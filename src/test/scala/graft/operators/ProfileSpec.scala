package graft.operators

import graft.SparkSpec

/** Profiling invariants + approx-sketch error bound. */
class ProfileSpec extends SparkSpec {

  test("exact-distinct strategies agree across the melt cutover") {
    // Same table, both sides of the crossover: the Expand (small-input)
    // and melt (scale) plans must produce identical profiles.
    val df = graft.sources.Tables.orders(spark, sfDir)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus")
    val small = Profile.profile(df, cols,
      meltCutoverPairs = Long.MaxValue).collect().toSeq // force Expand path
    val melt = Profile.profile(df, cols,
      meltCutoverPairs = 0L).collect().toSeq // force melt path
    assert(small == melt)
    assert(small.nonEmpty)
  }

  test("approx distinct within 10% of exact for orders keys") {
    val exact = Profile.q42Profile(spark, sfDirMid).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    // The HLL++ path ANALYZE's `approximate` flag takes.
    val approx = Profile.computeStats(
      graft.sources.Tables.orders(spark, sfDirMid),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
      approximate = true).distinct
    exact.foreach { case (c, n) =>
      val a = approx(c)
      assert(math.abs(a - n) <= math.max(1L, n / 10), s"$c: exact=$n approx=$a")
    }
  }

  test("histogram bins partition the rows: n sums to the non-null count") {
    import org.apache.spark.sql.functions._
    val events = graft.sources.Tables.events(spark, sfDirMid)
    val hist = Profile.histogram(events, "value", 50.0).collect()
    val nonNull = events.where(col("value").isNotNull).count()
    assert(hist.map(_.getAs[Long]("n")).sum == nonNull)
    // bins strictly increasing, bin_lo = bin * width
    val bins = hist.map(_.getAs[Long]("bin")).toSeq
    assert(bins == bins.sorted && bins.distinct == bins)
    hist.foreach(r =>
      assert(r.getAs[Double]("bin_lo") == r.getAs[Long]("bin") * 50.0))
  }

  test("histogram handles negative values and exact boundaries") {
    import spark.implicits._
    val df = Seq(-0.1, -50.0, 0.0, 49.999, 50.0, 99.9, 100.0)
      .toDF("value")
    val got = Profile.histogram(df, "value", 50.0).collect()
      .map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n")).toMap
    // floor semantics: -0.1 → bin -1, -50.0 → bin -1, 50.0 → bin 1 (not 0)
    assert(got == Map(-1L -> 2L, 0L -> 2L, 1L -> 2L, 2L -> 1L))
  }

  test("compaction with sort clustering keeps data identical and files sorted") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("compact-sorted").toString
    graft.sources.Tables.lineitem(spark, sfDir)
      .withColumn("date", date_format($"l_shipdate", "yyyy-MM-dd"))
      .where($"date" >= "1996-01-01" && $"date" < "1996-01-15")
      .repartition(6, $"date", pmod($"l_orderkey", lit(6)))
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val sumBefore = spark.read.parquet(dir)
      .agg(sum($"l_quantity".cast("decimal(18,2)"))).head().getDecimal(0)

    // minInputFiles=1 so every partition (even single-file days) is
    // rewritten with the cluster sort.
    val res = Maintenance.compact(spark, dir, "1996-01-01", "1996-01-15",
      targetFileBytes = 1024L * 1024 * 1024, minInputFiles = 1,
      sortCols = Seq("l_orderkey"))
    assert(res.filesAfter < res.filesBefore)

    val after = spark.read.parquet(dir)
    assert(after.agg(sum($"l_quantity".cast("decimal(18,2)"))).head().getDecimal(0) == sumBefore)
    // Every output file is sorted by the cluster column.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).flatMap(d => fs.listStatus(d.getPath))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val keys = spark.read.parquet(f.getPath.toString).select($"l_orderkey")
        .collect().map(_.getLong(0)).toSeq
      assert(keys == keys.sorted, s"${f.getPath} not clustered")
    }
  }
}
