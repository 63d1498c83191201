package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Maintenance

/** Z-order clustering: the curve value interleaves bits of every
  * column, and z-ordered compaction shrinks per-file ranges on ALL
  * clustered columns (single-column sort shrinks only one). */
class ZOrderSpec extends SparkSpec {

  test("zvalue orders a 2x2 grid along the morton curve") {
    import spark.implicits._
    val df = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)).toDF("x", "y")
    val zs = df.withColumn("z",
        ZOrder.zvalue(Seq((col("x"), 0.0, 1.0), (col("y"), 0.0, 1.0))))
      .collect().map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2))).toMap
    // (0,0) < (1,0) < (0,1) < (1,1) on the 2-bit-cell morton curve
    assert(zs((0.0, 0.0)) < zs((1.0, 0.0)))
    assert(zs((1.0, 0.0)) < zs((0.0, 1.0)))
    assert(zs((0.0, 1.0)) < zs((1.0, 1.0)))
  }

  test("z-order compaction shrinks per-file ranges on both columns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString + "/t"
    // one date partition, many small files, two independent uniform dims
    val rows = for (i <- 0 until 4096) yield
      ("2026-01-01", (i * 2654435761L % 4096).toDouble,
        (i * 40503L % 4096).toDouble, i.toLong)
    rows.toDF("date", "x", "y", "id").repartition(16)
      .write.partitionBy("date").parquet(dir)

    val res = Maintenance.compact(spark, dir, "2026-01-01", "2026-01-02",
      targetFileBytes = 2 * 1024, zorderCols = Seq("x", "y"))
    assert(res.partitionsRewritten == 1)
    assert(res.filesAfter > 1, "need multiple output files to observe clustering")

    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/date=2026-01-01"))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(_.getPath.toString)
    // per-file spans of both dims, as fractions of the global 0..4095 span
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min($"x"), max($"x"), min($"y"), max($"y")).head()
      ((r.getDouble(1) - r.getDouble(0)) / 4095.0,
        (r.getDouble(3) - r.getDouble(2)) / 4095.0)
    }
    val meanX = spans.map(_._1).sum / spans.length
    val meanY = spans.map(_._2).sum / spans.length
    // random assignment would leave both near 1.0; a plain x-sort would
    // shrink x but leave y near 1.0 — the z-curve shrinks both.
    assert(meanX < 0.8, s"mean x span $meanX")
    assert(meanY < 0.8, s"mean y span $meanY")

    // content unchanged
    val back = spark.read.parquet(dir).select($"id").as[Long].collect().sorted
    assert(back.toSeq == (0L until 4096L).toSeq)
  }
}
