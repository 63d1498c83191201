package graft.util

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.StoreIO

/** Self-generating 10× probe fixture: the Scala twin of
  * `tools/gen_scale_probe.py` (same replication scheme, same
  * perturbations — see that script's docstring for the design
  * rationale), so ScaleProbeSpec ASSERTS on every
  * clean-environment `sbt test` instead of silently canceling when
  * `/tmp/graft_sf1` is absent. Idempotent and cached: a complete probe
  * dir (every table present — whether this generator or the python
  * tool wrote it) is reused; a half-written one (crashed run) is
  * regenerated from scratch via tmp-dir + rename.
  *
  * Scheme per table (replica k of K, key strides = source counts):
  *  - region/nation: fixed dimensions, copied once (TPC-H rule);
  *  - key columns: `+ k * stride(sourceTable)` — dense contiguous key
  *    space, replica k's orders point at replica k's customers;
  *  - documents.text (k>0): every word suffixed `q<k>` — per-replica
  *    shingle structure preserved, zero cross-replica shingles;
  *    n_chars recomputed from the new text;
  *  - embeddings.embedding (k>0): roll left by k — an orthogonal
  *    per-replica transform, intra-replica cosine geometry preserved;
  *  - events: timestamps kept (K-fold density in the same window),
  *    event_id/user_id offset (user stride = max(user_id)+1).
  */
object ScaleProbeGen {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val offsets: Map[String, Map[String, String]] = Map(
    "customer" -> Map("c_custkey" -> "customer"),
    "supplier" -> Map("s_suppkey" -> "supplier"),
    "part" -> Map("p_partkey" -> "part"),
    "orders" -> Map("o_orderkey" -> "orders", "o_custkey" -> "customer"),
    "lineitem" -> Map("l_orderkey" -> "orders", "l_partkey" -> "part",
      "l_suppkey" -> "supplier"),
    "events" -> Map("event_id" -> "events", "user_id" -> "__users__"),
    "documents" -> Map("doc_id" -> "documents"),
    "embeddings" -> Map("vec_id" -> "embeddings"))

  private def complete(dir: String): Boolean =
    tables.forall(t => new java.io.File(s"$dir/$t.parquet").exists())

  /** Ensure the probe dir exists and is complete; returns false only
    * when the SOURCE dir is absent (caller `assume`s then). */
  def ensure(spark: SparkSession, src: String, dst: String,
      k: Int = 10): Boolean = synchronized {
    if (complete(dst)) return true
    if (!new java.io.File(s"$src/lineitem.parquet").exists()) return false
    val tmp = s"$dst.gen-tmp"
    StoreIO.deleteLocalDirs(java.util.List.of(tmp, dst)) // half-written
    val strides: Map[String, Long] =
      tables.map(t =>
        t -> spark.read.parquet(s"$src/$t.parquet").count()).toMap +
        ("__users__" -> (spark.read.parquet(s"$src/events.parquet")
          .agg(max(col("user_id"))).head().getLong(0) + 1L))
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      // derive the embedding dimension from the data (the python twin
      // hardcodes 64; a regenerated fixture with another dim would make
      // a hardcoded roll truncate arrays and silently break the
      // replica-geometry invariants the probe specs assert)
      val dim =
        if (t != "embeddings") 0
        else df.select(size(col("embedding"))).head().getInt(0)
      val out =
        if (t == "region" || t == "nation") df
        else (0 until k).map(replica(t, df, _, strides, dim))
          .reduce(_ unionByName _)
      out.write.mode(SaveMode.Overwrite).parquet(s"$tmp/$t.parquet")
    }
    assert(new java.io.File(tmp).renameTo(new java.io.File(dst)),
      s"could not move generated probe dir into place at $dst")
    true
  }

  private def replica(t: String, df: DataFrame, i: Int,
      strides: Map[String, Long], dim: Int): DataFrame = {
    var d = df
    offsets.getOrElse(t, Map.empty).foreach { case (c, srcT) =>
      d = d.withColumn(c, col(c) + lit(i.toLong * strides(srcT)))
    }
    if (t == "documents" && i > 0) {
      d = d.withColumn("text", array_join(
        transform(split(col("text"), " "), w => concat(w, lit(s"q$i"))),
        " "))
      d = d.withColumn("n_chars", length(col("text")).cast("long"))
    }
    if (t == "embeddings" && i > 0)
      d = d.withColumn("embedding",
        concat(slice(col("embedding"), i + 1, dim - i),
          slice(col("embedding"), 1, i)).cast("array<float>"))
    d
  }
}
