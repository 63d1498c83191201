package graft.operators

import graft.SparkSpec

/** The model-based quality filter: hand-checked features, separation on
  * planted data, shuffle-free scoring plan, and rule-distillation
  * agreement. */
class QualityClassifierSpec extends SparkSpec {
  import QualityClassifier._

  // varied clean prose: > 20 tokens, few stopwords, normal word lengths
  private def prose(i: Int): String =
    s"document number$i discusses distributed query engines covering " +
      s"partition pruning shuffle boundaries broadcast joins codegen stages " +
      s"columnar scans predicate pushdown adaptive execution topic$i metrics " +
      s"latency throughput resource scheduling memory spill management"

  // degenerate junk: one token repeated (top_tok_share = 1, dup 3-grams = 1)
  private def junk(i: Int): String =
    Seq.fill(25)(s"spam$i").mkString(" ")

  test("features are hand-computable: runs, distinct 3-grams, stopwords") {
    import spark.implicits._
    val out = featuresOf(Seq((1L, "a a a b c")).toDF("doc_id", "text"))
      .collect().head
    // toks = [a,a,a,b,c]: 3-grams ["a a a","a a b","a b c"] all distinct
    assert(out.getAs[Double]("f_dup_3gram_share") == 0.0)
    // longest sorted run = the three a's
    assert(out.getAs[Double]("f_top_tok_share") == 3.0 / 5)
    // "a" is a stopword, three occurrences
    assert(out.getAs[Double]("f_stop_ratio") == 3.0 / 5)
    // 9 chars - 4 separators over 5 tokens
    assert(out.getAs[Double]("f_mean_word_len") == 1.0)
    assert(out.getAs[Double]("f_nonword_ratio") == 0.0)

    val rep = featuresOf(Seq((2L, "x x x x x")).toDF("doc_id", "text"))
      .collect().head
    // 3 trigrams, 1 distinct
    assert(math.abs(rep.getAs[Double]("f_dup_3gram_share") - 2.0 / 3) < 1e-12)
    assert(rep.getAs[Double]("f_top_tok_share") == 1.0)
  }

  test("null and empty texts get all-zero features, not NaN") {
    import spark.implicits._
    val out = featuresOf(Seq((1L, null: String), (2L, "")).toDF("doc_id", "text"))
      .collect()
    for (r <- out; f <- FeatureCols) {
      val v = r.getAs[Double](f)
      assert(!v.isNaN && v == 0.0, s"$f = $v")
    }
  }

  test("featurize + score is one shuffle-free projection") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val model = Model(FeatureCols, Seq(0.5, -1.0, 0.1, -2.0, -2.0, -3.0), 0.2)
    val plan = score(docs, model).queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Generate") && !plan.contains("HashAggregate"), plan)
  }

  test("trained model separates held-out junk from prose completely") {
    import spark.implicits._
    val train0 = (1 to 20).map(i => (i.toLong, prose(i), 1.0)) ++
      (21 to 40).map(i => (i.toLong, junk(i), 0.0))
    val model = train(featuresOf(train0.toDF("doc_id", "text", "label")))
    val heldOut = (41 to 50).map(i => (i.toLong, prose(i), 1.0)) ++
      (51 to 60).map(i => (i.toLong, junk(i), 0.0))
    val scored = score(heldOut.toDF("doc_id", "text", "label"), model)
      .select($"label", $"quality_prob").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val proseProbs = scored.filter(_._1 == 1.0).map(_._2)
    val junkProbs = scored.filter(_._1 == 0.0).map(_._2)
    assert(proseProbs.min > junkProbs.max,
      s"prose min ${proseProbs.min} vs junk max ${junkProbs.max}")
    assert(proseProbs.forall(_ >= 0.5) && junkProbs.forall(_ < 0.5))
  }

  test("scoring the same frame twice is bit-identical") {
    import spark.implicits._
    val docs = (1 to 10).map(i => (i.toLong, prose(i))).toDF("doc_id", "text")
    val model = Model(FeatureCols, Seq(0.3, -1.2, 0.05, -2.5, -2.5, -4.0), 0.1)
    def probs() = score(docs, model).select($"doc_id", $"quality_prob")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(probs() == probs())
  }

  test("distilled model reproduces the rule gate on separable planted docs") {
    import spark.implicits._
    val docs = ((1 to 15).map(i => (i.toLong, prose(i))) ++
      (16 to 30).map(i => (i.toLong, junk(i))))
      .map { case (id, t) => (id, t, "en", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "n_chars")
    val model = distillFromRules(docs)
    val scored = score(docs, model).select($"doc_id", $"quality_prob").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // rules keep exactly the prose docs; the distilled model agrees
    assert((1 to 15).forall(i => scored(i.toLong) >= 0.5))
    assert((16 to 30).forall(i => scored(i.toLong) < 0.5))
  }

  test("q99 on the real corpus: every source reported, kept bounded by docs") {
    val out = QualityClassifier.q99QualityModel(spark, sfDirMid).collect()
    assert(out.length > 1)
    out.foreach { r =>
      val (n, kept) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))
      assert(kept >= 0 && kept <= n)
    }
  }

  test("q99 decision margin: no document's |z| is within cross-engine rounding") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{abs, min}
    // The dynamic oracle replays features + the z >= 0 decision in
    // DuckDB; feature values can differ by ~ulps (ln vs log1p, sum
    // rounding), shifting z by ~1e-15. The decision is engine-portable
    // iff no document sits closer to the boundary than that. Pin a
    // margin six orders wider.
    val docs = graft.sources.Tables.documents(spark, sfDirMid)
    val model = QualityClassifier.distillFromRules(docs)
    val minAbsZ = QualityClassifier.featuresOf(docs)
      .select(abs(QualityClassifier.linearExpr(model)).as("az"))
      .agg(min($"az")).head().getDouble(0)
    assert(minAbsZ > 1e-9, s"min |z| = $minAbsZ: too close to the z=0 boundary")
  }
}
