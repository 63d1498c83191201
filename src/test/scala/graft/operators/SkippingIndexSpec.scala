package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The skipping index is a PRUNER, never a filter: every read must
  * equal the plain filtered scan — on clustered layouts (where it
  * prunes), on random layouts (where it can't), under appends the index
  * hasn't seen, and after files vanish. And on a clustered layout it
  * must ACTUALLY prune: the executed scan's file set, not just the
  * qualifying list, stays a fraction of the table. */
class SkippingIndexSpec extends SparkSpec {

  import SkippingIndex._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** lineitem re-laid-out as `nFiles` range-clustered files. */
  private def clustered(root: String, nFiles: Int = 8): String = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .repartitionByRange(nFiles, $"l_partkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/table")
    s"$root/table"
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val band = Seq(ColumnRange("l_partkey", Some(40L), Some(79L)))

  test("pruned read equals the plain filtered scan on a clustered layout") {
    val root = tmp("skip-eq")
    val table = clustered(root)
    build(spark, table, s"$root/index", Seq("l_partkey"))
    val got = prunedRead(spark, s"$root/index", band)
    val expect = spark.read.parquet(table)
      .where(col("l_partkey").between(40L, 79L))
    assert(got.count() > 0)
    assert(sortedRows(got) == sortedRows(expect))
  }

  test("the executed scan reads a fraction of the files, and no row is lost") {
    val root = tmp("skip-prune")
    val table = clustered(root)
    build(spark, table, s"$root/index", Seq("l_partkey"))
    val got = prunedRead(spark, s"$root/index", band)
    val full = spark.read.parquet(table)
    assert(full.inputFiles.length == 8)
    // [40,79] is 20% of sf0.001's partkey range: ~2 of 8 range files,
    // +1 for a sampled boundary straddle
    assert(got.inputFiles.length <= 3,
      s"narrow band touched ${got.inputFiles.length} of 8 clustered files")
    assert(got.count() ==
      full.where(col("l_partkey").between(40L, 79L)).count())
  }

  test("a randomly-laid-out column prunes nothing but stays correct") {
    import spark.implicits._
    val root = tmp("skip-rand")
    // hash-repartition: every file spans ~the full key range
    Tables.lineitem(spark, sfDir).repartition(8, $"l_orderkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/table")
    build(spark, s"$root/table", s"$root/index", Seq("l_partkey"))
    val got = prunedRead(spark, s"$root/index", band)
    val expect = spark.read.parquet(s"$root/table")
      .where(col("l_partkey").between(40L, 79L))
    assert(sortedRows(got) == sortedRows(expect))
  }

  test("files appended after the build are read conservatively") {
    val root = tmp("skip-append")
    val table = clustered(root)
    build(spark, table, s"$root/index", Seq("l_partkey"))
    // an appended file OUTSIDE the band's zones — a pruner trusting the
    // stale index would drop its in-band rows
    import spark.implicits._
    Tables.lineitem(spark, sfDir).where($"l_partkey".between(40L, 79L))
      .limit(50).coalesce(1)
      .write.mode(SaveMode.Append).parquet(table)
    val got = prunedRead(spark, s"$root/index", band)
    val expect = spark.read.parquet(table)
      .where(col("l_partkey").between(40L, 79L))
    assert(sortedRows(got) == sortedRows(expect))
  }

  test("refresh stats exactly the delta, after which the new file prunes too") {
    import spark.implicits._
    val root = tmp("skip-refresh")
    val table = clustered(root)
    build(spark, table, s"$root/index", Seq("l_partkey"))
    // append a file whose zone is entirely OUTSIDE the probe band
    Tables.lineitem(spark, sfDir).where($"l_partkey" >= 150L)
      .limit(100).coalesce(1)
      .write.mode(SaveMode.Append).parquet(table)
    assert(refresh(spark, s"$root/index") == 1)
    assert(refresh(spark, s"$root/index") == 0, "second refresh must be a no-op")
    val got = prunedRead(spark, s"$root/index", band)
    // the refreshed index knows the new file's zone misses the band:
    // the scan must NOT include it
    assert(got.inputFiles.length <= 3,
      s"refreshed out-of-band file not pruned: ${got.inputFiles.length} files")
    val expect = spark.read.parquet(table)
      .where(col("l_partkey").between(40L, 79L))
    assert(sortedRows(got) == sortedRows(expect))
  }

  test("vanished files are ignored: the live listing names the scan set") {
    val root = tmp("skip-vanish")
    val table = clustered(root)
    build(spark, table, s"$root/index", Seq("l_partkey"))
    // drop one data file out from under the index
    val victim = new java.io.File(table).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val got = prunedRead(spark, s"$root/index",
      Seq(ColumnRange("l_partkey", Some(0L), None)))
    val expect = spark.read.parquet(table)
      .where(col("l_partkey") >= 0L)
    assert(sortedRows(got) == sortedRows(expect))
  }

  test("an empty qualifying set returns the empty frame without reading data") {
    val root = tmp("skip-empty")
    val table = clustered(root)
    build(spark, table, s"$root/index", Seq("l_partkey"))
    val got = prunedRead(spark, s"$root/index",
      Seq(ColumnRange("l_partkey", Some(10000000L), None)))
    assert(got.count() == 0)
    assert(got.inputFiles.isEmpty, "no file can match; none should be listed")
  }

  test("string and date columns index and prune the same way") {
    import spark.implicits._
    val root = tmp("skip-types")
    Tables.lineitem(spark, sfDir)
      .repartitionByRange(6, $"l_shipdate")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/table")
    build(spark, s"$root/table", s"$root/index",
      Seq("l_shipdate", "l_returnflag"))
    // sf0.001 shipdates span 1995..2001 (timestamp-typed); half a year
    // out of ~7 → ~1 of 6 range files
    val lo = java.sql.Timestamp.valueOf("1995-02-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1995-08-31 23:59:59")
    val got = prunedRead(spark, s"$root/index",
      Seq(ColumnRange("l_shipdate", Some(lo), Some(hi)),
        ColumnRange("l_returnflag", Some("A"), Some("A"))))
    val expect = spark.read.parquet(s"$root/table")
      .where(col("l_shipdate").between(lo, hi) && col("l_returnflag") === "A")
    assert(got.count() > 0)
    assert(sortedRows(got) == sortedRows(expect))
    assert(got.inputFiles.length < 6,
      s"date band touched all ${got.inputFiles.length} files")
  }

  test("an all-NULL zone is skipped: a range never matches NULL") {
    import spark.implicits._
    val root = tmp("skip-null")
    Seq((1L, Some(5L)), (2L, Some(9L))).toDF("id", "k")
      .coalesce(1).write.parquet(s"$root/table")
    Seq((3L, Option.empty[Long])).toDF("id", "k")
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$root/table")
    build(spark, s"$root/table", s"$root/index", Seq("k"))
    val got = prunedRead(spark, s"$root/index",
      Seq(ColumnRange("k", Some(0L), Some(100L))))
    assert(got.inputFiles.length == 1, "the all-NULL file must be skipped")
    assert(got.select(sum($"k")).collect().head.getLong(0) == 14L)
  }

  test("z-order prunes on EITHER column; a single-column sort prunes only its own") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    // layout A: range-clustered by partkey alone
    val rootA = tmp("skip-zA")
    li.repartitionByRange(8, $"l_partkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$rootA/table")
    build(spark, s"$rootA/table", s"$rootA/index",
      Seq("l_partkey", "l_suppkey"))
    // layout Z: z-ordered on (partkey, suppkey)
    val rootZ = tmp("skip-zZ")
    val z = graft.functions.ZOrder.zvalueOf(li, Seq("l_partkey", "l_suppkey"))
    li.withColumn("__z", z).repartitionByRange(8, $"__z").drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(s"$rootZ/table")
    build(spark, s"$rootZ/table", s"$rootZ/index",
      Seq("l_partkey", "l_suppkey"))
    // sf0.001 ranges: partkey 0..199, suppkey 0..9
    val partPred = Seq(ColumnRange("l_partkey", Some(0L), Some(79L)))
    val suppPred = Seq(ColumnRange("l_suppkey", Some(0L), Some(4L)))
    def files(root: String, pred: Seq[ColumnRange]) =
      prunedRead(spark, s"$root/index", pred).inputFiles.length
    // the single-column sort: its own column prunes, the other reads all
    assert(files(rootA, partPred) < 8)
    assert(files(rootA, suppPred) == 8,
      "a partkey sort should leave suppkey zones full-width")
    // the z-order: BOTH columns prune
    assert(files(rootZ, partPred) < 8,
      s"z-layout partkey prune read ${files(rootZ, partPred)} of 8")
    assert(files(rootZ, suppPred) < 8,
      s"z-layout suppkey prune read ${files(rootZ, suppPred)} of 8")
    // and the conjunction is correct on both layouts
    val both = partPred ++ suppPred
    val expect = sortedRows(li.where(
      $"l_partkey".between(0L, 79L) && $"l_suppkey".between(0L, 4L)))
    assert(sortedRows(prunedRead(spark, s"$rootA/index", both)
      .select(li.columns.map(col).toSeq: _*)) == expect)
    assert(sortedRows(prunedRead(spark, s"$rootZ/index", both)
      .select(li.columns.map(col).toSeq: _*)) == expect)
  }

  // ---- the Bloom side: point probes where zones cannot prune --------

  /** 100k unique ids hash-scattered across 8 files: every file spans
    * ~the whole id range (zones full-width), but each id lives in
    * exactly one file. */
  private def scattered(root: String): String = {
    import spark.implicits._
    spark.range(100000)
      .withColumn("noise", col("id") % 97)
      .repartition(8, $"noise").drop("noise")
      .withColumn("s", concat(lit("k"), col("id")))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/table")
    s"$root/table"
  }

  test("a point probe on a scattered layout: zones read everything, the bloom prunes") {
    val root = tmp("skip-bloom")
    val table = scattered(root)
    build(spark, table, s"$root/index",
      cols = Seq("id"), bloomCols = Seq("id"))
    // the zone side alone (a degenerate [v,v] range) cannot prune:
    // every file's [min,max] contains every id
    val zoneOnly = prunedRead(spark, s"$root/index",
      Seq(ColumnRange("id", Some(31337L), Some(31337L))))
    assert(zoneOnly.inputFiles.length == 8,
      "scattered zones should be full-width — this layout is the bloom's case")
    // the bloom prunes to the one file that holds the id (± an FP)
    val bloomed = prunedRead(spark, s"$root/index", ranges = Nil,
      equalities = Seq(ColumnEquals("id", Seq(31337L))))
    assert(bloomed.inputFiles.length <= 2,
      s"bloom probe read ${bloomed.inputFiles.length} of 8 scattered files")
    assert(bloomed.collect().map(_.getLong(0)).toSeq == Seq(31337L))
  }

  test("IN-lists, string keys, and Int-vs-Long literals all hash the column's type") {
    val root = tmp("skip-bloom-types")
    val table = scattered(root)
    build(spark, table, s"$root/index",
      cols = Seq("id"), bloomCols = Seq("id", "s"))
    // an IN-list qualifies the union of per-value files
    val inList = prunedRead(spark, s"$root/index", ranges = Nil,
      equalities = Seq(ColumnEquals("id", Seq(11L, 4242L, 99999L))))
    assert(inList.inputFiles.length <= 4)
    assert(inList.select(sum(col("id"))).collect().head.getLong(0) ==
      11L + 4242L + 99999L)
    // a string-typed bloom prunes the same way
    val str = prunedRead(spark, s"$root/index", ranges = Nil,
      equalities = Seq(ColumnEquals("s", Seq("k31337"))))
    assert(str.inputFiles.length <= 2)
    assert(str.select(col("id")).collect().map(_.getLong(0)).toSeq ==
      Seq(31337L))
    // an Int literal probing the BIGINT column must hash as LONG —
    // same files, same row, no silent type-mismatch miss
    val asInt = prunedRead(spark, s"$root/index", ranges = Nil,
      equalities = Seq(ColumnEquals("id", Seq(31337))))
    assert(asInt.collect().map(_.getLong(0)).toSeq == Seq(31337L))
    assert(asInt.inputFiles.length <= 2)
  }

  test("equality on a zone-only column degrades to the [v,v] zone test") {
    val root = tmp("skip-eq-zone")
    val table = clustered(root) // range-clustered: zones CAN answer points
    build(spark, table, s"$root/index", Seq("l_partkey"))
    val got = prunedRead(spark, s"$root/index", ranges = Nil,
      equalities = Seq(ColumnEquals("l_partkey", Seq(42L))))
    val expect = spark.read.parquet(table).where(col("l_partkey") === 42L)
    assert(got.inputFiles.length <= 2,
      s"clustered zone point probe read ${got.inputFiles.length} of 8")
    assert(sortedRows(got) == sortedRows(expect))
  }

  test("a range AND a bloom equality conjoin; both prune their own dimension") {
    import spark.implicits._
    val root = tmp("skip-mixed")
    // range-clustered by partkey, so the range prunes; orderkey rides
    // along scattered, so only its bloom prunes
    val table = clustered(root)
    build(spark, table, s"$root/index",
      cols = Seq("l_partkey"), bloomCols = Seq("l_orderkey"))
    val someKey = spark.read.parquet(table)
      .where($"l_partkey".between(40L, 79L))
      .select($"l_orderkey").head().getLong(0)
    val got = prunedRead(spark, s"$root/index",
      Seq(ColumnRange("l_partkey", Some(40L), Some(79L))),
      Seq(ColumnEquals("l_orderkey", Seq(someKey))))
    val expect = spark.read.parquet(table).where(
      $"l_partkey".between(40L, 79L) && $"l_orderkey" === someKey)
    assert(sortedRows(got) == sortedRows(expect))
    assert(got.count() > 0)
    assert(got.inputFiles.length <= 3)
  }

  test("refresh blooms the delta too: new files prune for absent keys, hit for theirs") {
    import spark.implicits._
    val root = tmp("skip-bloom-refresh")
    val table = scattered(root)
    build(spark, table, s"$root/index",
      cols = Seq("id"), bloomCols = Seq("id"))
    // append a file of entirely new ids
    spark.range(200000, 201000)
      .withColumn("s", concat(lit("k"), col("id")))
      .coalesce(1).write.mode(SaveMode.Append).parquet(table)
    // pre-refresh: the unknown file is read conservatively
    val before = prunedRead(spark, s"$root/index", ranges = Nil,
      equalities = Seq(ColumnEquals("id", Seq(31337L))))
    assert(before.inputFiles.length >= 2, "unindexed file must be read")
    assert(refresh(spark, s"$root/index") == 1)
    // post-refresh: the new file's bloom lacks 31337 — pruned again
    val after = prunedRead(spark, s"$root/index", ranges = Nil,
      equalities = Seq(ColumnEquals("id", Seq(31337L))))
    assert(after.inputFiles.length <= 2,
      s"refreshed file not bloom-pruned: ${after.inputFiles.length}")
    // and its own keys are found through the refreshed bloom
    val theirs = prunedRead(spark, s"$root/index", ranges = Nil,
      equalities = Seq(ColumnEquals("id", Seq(200500L))))
    assert(theirs.collect().map(_.getLong(0)).toSeq == Seq(200500L))
    assert(theirs.inputFiles.length <= 2)
  }

  test("IS NULL / IS NOT NULL prune from the value counts") {
    import spark.implicits._
    val root = tmp("skip-nullness")
    // file A: k all NULL; file B: k never NULL; file C: mixed
    Seq((1L, Option.empty[Long]), (2L, Option.empty[Long])).toDF("id", "k")
      .coalesce(1).write.parquet(s"$root/table")
    Seq((3L, Some(5L)), (4L, Some(9L))).toDF("id", "k")
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$root/table")
    Seq((5L, Some(7L)), (6L, Option.empty[Long])).toDF("id", "k")
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$root/table")
    build(spark, s"$root/table", s"$root/index", Seq("k"))
    val isNull = prunedRead(spark, s"$root/index", ranges = Nil,
      nullness = Seq(ColumnNullness("k", isNull = true)))
    assert(isNull.inputFiles.length == 2, "the no-NULL file must be skipped")
    assert(isNull.select(sum($"id")).collect().head.getLong(0) == 1L + 2L + 6L)
    val notNull = prunedRead(spark, s"$root/index", ranges = Nil,
      nullness = Seq(ColumnNullness("k", isNull = false)))
    assert(notNull.inputFiles.length == 2, "the all-NULL file must be skipped")
    assert(notNull.select(sum($"k")).collect().head.getLong(0) == 5L + 9L + 7L)
    // nullness on a column without value counts is rejected
    val ex = intercept[IllegalArgumentException] {
      prunedRead(spark, s"$root/index", ranges = Nil,
        nullness = Seq(ColumnNullness("id", isNull = true)))
    }
    assert(ex.getMessage.contains("value-count stats"))
  }

  test("NULL probe values are rejected; equality on an unindexed column names both sets") {
    val root = tmp("skip-bloom-reject")
    val table = scattered(root)
    build(spark, table, s"$root/index",
      cols = Seq("id"), bloomCols = Seq("id"))
    intercept[IllegalArgumentException](ColumnEquals("id", Seq(1L, null)))
    val ex = intercept[IllegalArgumentException] {
      prunedRead(spark, s"$root/index", ranges = Nil,
        equalities = Seq(ColumnEquals("s", Seq("k1"))))
    }
    assert(ex.getMessage.contains("not indexed"))
    assert(ex.getMessage.contains("blooms"))
  }

  test("an uncastable probe value never wrong-prunes: ANSI fails fast, non-ANSI degrades to no bloom verdict") {
    val root = tmp("skip-uncast")
    val table = scattered(root)
    build(spark, table, s"$root/index",
      cols = Seq("id"), bloomCols = Seq("id"))
    val probe = Seq(ColumnEquals("id", Seq("not-a-number")))
    // ANSI (the session default): the literal cast throws during the
    // driver-local hash job — a loud error, never a silent wrong prune
    intercept[Exception] {
      prunedRead(spark, s"$root/index", ranges = Nil, equalities = probe)
        .count()
    }
    // non-ANSI: the cast NULLs out; the bloom verdict (xxhash64(NULL) =
    // the bare seed — its bits prune files the coerced predicate could
    // match) must be SKIPPED, not trusted. The read completes and
    // equals the plain filtered scan (empty here: "not-a-number"
    // coerces to NULL, and equality never matches NULL).
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val got = prunedRead(spark, s"$root/index", ranges = Nil,
        equalities = probe)
      assert(got.count() == 0L)
      // a castable probe alongside the index still works in this mode
      val ok = prunedRead(spark, s"$root/index", ranges = Nil,
        equalities = Seq(ColumnEquals("id", Seq(7L))))
      assert(ok.count() == 1L)
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("literal hashes are computed on the driver and equal the query's xxhash64") {
    import org.apache.spark.sql.types._
    val cases: Seq[(Any, DataType)] = Seq(
      (7, LongType),
      ("abc", StringType),
      (java.sql.Date.valueOf("2024-01-05"), DateType),
      ("2024-01-05", DateType),
      (java.sql.Timestamp.valueOf("2024-01-05 10:11:12.345678"), TimestampType),
      ("2024-01-05 10:11:12", TimestampType),
      (BigDecimal("12.34"), DecimalType(12, 2)))
    cases.foreach { case (v, dt) =>
      val job = spark.range(1).select(xxhash64(lit(v).cast(dt))).head().getLong(0)
      var got: Option[Seq[Long]] = None
      assert(jobsDuring { got = literalHashes(spark, dt, Seq(v, null)) } == 0)
      assert(got.contains(Seq(job)), s"$v as $dt")
    }
    // a NULL-ing cast still withholds the bloom verdict (non-ANSI);
    // under ANSI it throws, like the query would
    intercept[Exception](literalHashes(spark, IntegerType, Seq("abc")))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(literalHashes(spark, IntegerType, Seq(1, "abc")).isEmpty)
    finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("unindexed predicate columns are rejected with the indexed set named") {
    val root = tmp("skip-reject")
    val table = clustered(root)
    build(spark, table, s"$root/index", Seq("l_partkey"))
    val ex = intercept[IllegalArgumentException] {
      prunedRead(spark, s"$root/index",
        Seq(ColumnRange("l_suppkey", Some(1L), None)))
    }
    assert(ex.getMessage.contains("not indexed"))
  }

  test("bloomBits=0 auto-sizes per refresh from observed rows-per-file; explicit bits still pin") {
    import spark.implicits._
    val root = tmp("skip-auto")
    // small files first: ~n rows/file across 4 files
    val li = Tables.lineitem(spark, sfDir)
    val total = li.count()
    li.repartition(4, $"l_partkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/table")
    build(spark, s"$root/table", s"$root/index",
      cols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
    // the persisted POLICY is auto (0); the stored arrays carry the
    // derived width: next pow2 >= 10x(max rows/file), floor 2^17
    assert(meta(spark, s"$root/index").bloomBits == 0)
    def widths: Set[Long] =
      spark.read.parquet(s"$root/index/stats")
        .select(octet_length($"bloom_l_orderkey").cast("long"))
        .distinct().as[Long].collect().toSet
    val perFile = total / 4
    val expect0 = math.max(1L << 17,
      java.lang.Long.highestOneBit(math.max(1L, 10 * perFile - 1)) * 2)
    assert(widths == Set(expect0 / 8),
      s"auto width ${widths.map(_ * 8)} != expected $expect0 for ~$perFile rows/file")
    // a LARGER delta file: the next refresh derives a wider bloom for
    // it, while the existing files keep theirs (mixed widths probe by
    // their own length)
    li.union(li).union(li).union(li).coalesce(1)
      .write.mode(SaveMode.Append).parquet(s"$root/table")
    assert(refresh(spark, s"$root/index") == 1)
    val expect1 = math.max(1L << 17,
      java.lang.Long.highestOneBit(math.max(1L, 10 * total * 4 - 1)) * 2)
    assert(widths == Set(expect0 / 8, expect1 / 8),
      s"refresh did not auto-widen: ${widths.map(_ * 8)}")
    // and the mixed-width index still prunes correctly: an absent key
    // reads nothing, a present key's rows are exact
    val absent = prunedRead(spark, s"$root/index", ranges = Nil,
      equalities = Seq(ColumnEquals("l_orderkey", Seq(-1L))))
    assert(absent.count() == 0L)
    val k = li.agg(min($"l_orderkey")).head().getLong(0)
    val hit = prunedRead(spark, s"$root/index", ranges = Nil,
      equalities = Seq(ColumnEquals("l_orderkey", Seq(k))))
    assert(hit.count() ==
      spark.read.parquet(s"$root/table")
        .where($"l_orderkey" === k).count())
    // explicit bits still pin the width exactly
    val root2 = tmp("skip-pin")
    val table2 = clustered(root2, nFiles = 4)
    build(spark, table2, s"$root2/index", cols = Seq("l_orderkey"),
      bloomCols = Seq("l_orderkey"), bloomBits = 1 << 18)
    assert(meta(spark, s"$root2/index").bloomBits == (1 << 18))
    val w2 = spark.read.parquet(s"$root2/index/stats")
      .select(octet_length($"bloom_l_orderkey").cast("long"))
      .distinct().as[Long].collect().toSet
    assert(w2 == Set((1L << 18) / 8))
  }
}
