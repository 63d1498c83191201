package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Embedding release drift: status classification, scale invariance of
  * the cosine gate, decisive drift for reversal, and the cross-engine
  * decision margin. */
class EmbeddingDriftSpec extends SparkSpec {

  private def vec(xs: Float*): Array[Float] = xs.toArray

  test("statuses and the drift gate on a hand-built pair of releases") {
    import spark.implicits._
    val oldE = Seq(
      (1L, vec(1f, 0f, 0f), 0), // kept, identical
      (2L, vec(1f, 2f, 3f), 0), // kept, scaled -> stable
      (3L, vec(1f, 0f, 1f), 1), // kept, rotated -> drifted
      (4L, vec(0f, 1f, 0f), 1)  // removed
    ).toDF("vec_id", "embedding", "label")
    val newE = Seq(
      (1L, vec(1f, 0f, 0f), 0),
      (2L, vec(2f, 4f, 6f), 0),
      (3L, vec(0f, 1f, 0f), 1),
      (5L, vec(1f, 1f, 1f), 2)  // added
    ).toDF("vec_id", "embedding", "label")
    val out = EmbeddingDrift.drift(oldE, newE, 0.99).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // label -> (added, removed, kept, drifted)
    assert(out(0) == (0L, 0L, 2L, 0L)) // identical + scaled: both stable
    assert(out(1) == (0L, 1L, 1L, 1L)) // rotated kept drifts; one removed
    assert(out(2) == (1L, 0L, 0L, 0L))
  }

  test("q143 on the real corpus: all statuses occur, totals reconcile") {
    val rows = EmbeddingDrift.q143EmbeddingDrift(spark, sfDirMid).collect()
    assert(rows.nonEmpty)
    val added = rows.map(_.getAs[Long]("n_added")).sum
    val removed = rows.map(_.getAs[Long]("n_removed")).sum
    val kept = rows.map(_.getAs[Long]("n_kept")).sum
    val drifted = rows.map(_.getAs[Long]("n_drifted")).sum
    // v_old = ids <= 450, v_new = ids >= 50 over a corpus of 500
    assert(added > 0 && removed > 0 && kept > 0)
    assert(drifted > 0 && drifted <= kept)
    // every 7th kept id reverses; none of the scaled (x2) ids may drift
    val keptIds = (50L to 450L)
    assert(drifted == keptIds.count(_ % 7 == 0))
  }

  test("decision margin: no kept vector's cosine sits near the 0.99 gate") {
    import spark.implicits._
    // The oracle replays the threshold compare in DuckDB; ulp-level
    // cosine differences are harmless iff nothing lands within ~1e-12
    // of the gate. Pin a margin several orders wider.
    val e = graft.sources.Tables.embeddings(spark, sfDirMid)
      .select($"vec_id", $"embedding", $"label")
    val vOld = e.where($"vec_id" <= 450)
    val vNew = e.where($"vec_id" >= 50)
      .withColumn("embedding",
        when($"vec_id" % 7 === 0, reverse($"embedding"))
          .when($"vec_id" % 13 === 0, transform($"embedding", x => x * lit(2.0f)))
          .otherwise($"embedding"))
    graft.functions.CosineSimilarity.register(spark)
    def dv(c: String) = transform(col(c), x => x.cast("double"))
    val minGap = vOld.select($"vec_id", $"embedding".as("a"))
      .join(vNew.select($"vec_id", $"embedding".as("b")), "vec_id")
      .select(abs(Similarity.cos(dv("a"), dv("b")) - lit(0.99)).as("gap"))
      .agg(min($"gap")).head().getDouble(0)
    assert(minGap > 1e-6, s"min |cos - 0.99| = $minGap: too close to the drift gate")
  }
}
