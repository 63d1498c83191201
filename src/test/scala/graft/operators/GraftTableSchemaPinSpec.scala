package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The pinned-union-schema contract (the Iceberg rule: schema lives in
  * table METADATA; planning a read never opens a data file): every
  * commit snapshot carries the union schema, read paths resolve it
  * from there, and only a pre-schema (legacy) manifest pays the
  * mergeSchema footer-merge job — once, as a repair path, until the
  * next commit pins the schema. Observable: Spark's footer merge IS a
  * Spark job at DataFrame-construction time, so "zero jobs during
  * construction" is exactly "zero footer opens to plan the read"
  * (with a user-supplied schema, ParquetFileFormat.inferSchema is
  * never called at all). At 100 TB this is the difference between one
  * metadata read and ~49 µs × O(live files) of footer GETs per
  * uncached read (SCALE.md). */
class GraftTableSchemaPinSpec extends SparkSpec {

  import GraftTable._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("gt-schema-").toString

  private def li = Tables.lineitem(spark, sfDir)

  private def stripSchema(dir: String): Unit = {
    val p = java.nio.file.Paths.get(s"$dir/_live.json")
    val raw = java.nio.file.Files.readString(p)
    val i = raw.indexOf(""""schema":""")
    assert(i > 0, "manifest carried no schema to strip")
    java.nio.file.Files.writeString(p, raw.substring(0, i - 1) + "}")
    ()
  }

  test("commits pin the union schema; read/travel/CDC planning launches zero Spark jobs") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.where($"l_orderkey" % 2 === 0), dir, "b1") // commit 2
    append(li.where($"l_orderkey" % 2 === 1), dir, "b2") // commit 3
    val man = manifest(spark, dir)
    assert(man.schemaJson.isDefined, "append did not pin the schema")
    // warm planning: every read surface resolves the schema from the
    // snapshot — zero jobs, therefore zero parquet footers opened
    val jobs = jobsDuring {
      read(spark, dir)
      GraftTable.table(spark, dir)
      tableAt(spark, dir, 2L)
      changesBetween(spark, dir, 2L, 3L)
      ()
    }
    assert(jobs == 0,
      s"read planning launched $jobs Spark job(s) — footer merging is back")
    // and the pinned plan still answers correctly
    assert(read(spark, dir).count() == li.count())
    assert(tableAt(spark, dir, 2L).count() ==
      li.where($"l_orderkey" % 2 === 0).count())
  }

  test("an evolved append updates the snapshot schema; travel keeps the old one") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    val base = li.select($"l_orderkey", $"l_partkey", $"l_quantity")
    append(base.where($"l_orderkey" % 2 === 0), dir, "b1") // commit 2
    append(base.where($"l_orderkey" % 2 === 1)
      .withColumn("l_note", lit("x")), dir, "b2") // commit 3
    // the live manifest's pinned union gained the evolved column
    assert(manifest(spark, dir).schemaJson.get.contains("l_note"))
    // planning stays footer-free across the evolution boundary, and
    // the old batch surfaces typed NULLs for the evolved column
    assert(jobsDuring { read(spark, dir); () } == 0)
    val withNote = read(spark, dir)
    assert(withNote.columns.contains("l_note"))
    assert(withNote.where($"l_note".isNull).count() ==
      base.where($"l_orderkey" % 2 === 0).count())
    // TIME TRAVEL sees the schema AS OF the commit (Iceberg contract):
    // commit 2's snapshot predates l_note
    assert(!commitAt(spark, dir, 2L).manifest.schemaJson.get
      .contains("l_note"))
    assert(!tableAt(spark, dir, 2L).columns.contains("l_note"))
  }

  test("a legacy (pre-schema) manifest footer-merges once, then self-heals on append") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.where($"l_orderkey" % 2 === 0), dir, "b1")
    append(li.where($"l_orderkey" % 3 === 1), dir, "b2")
    val expect = read(spark, dir).count()
    stripSchema(dir)
    assert(manifest(spark, dir).schemaJson.isEmpty)
    // the repair path: mergeSchema pays its footer-merge job — this is
    // the control proving the listener catches what the pin eliminates
    assert(jobsDuring { read(spark, dir); () } >= 1,
      "legacy fallback did not footer-merge (did mergeSchema change?)")
    assert(read(spark, dir).count() == expect)
    // the next append re-pins (one last footer merge inside append)
    append(li.where($"l_orderkey" % 6 === 2), dir, "b3")
    assert(manifest(spark, dir).schemaJson.isDefined,
      "append did not self-heal the missing schema pin")
    assert(jobsDuring { read(spark, dir); () } == 0)
  }

  test("planning stays footer-free at many live batches (prints SCHEMAPIN probe rows)") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    (0 until 24).foreach(i =>
      append(li.where($"l_orderkey" % 24 === i), dir, s"b$i"))
    def medianMs(f: => Unit): Double = {
      val t = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      t(2)
    }
    // structural flatness: at 24 live batches, planning still launches
    // zero jobs — construction cost is the directory LISTING only (no
    // per-file opens), which is the object-store LIST a real table
    // format also pays
    assert(jobsDuring { read(spark, dir); () } == 0,
      "many-batch planning footer-merged")
    val pinnedMs = medianMs { read(spark, dir); () }
    stripSchema(dir)
    val legacyMs = medianMs { read(spark, dir); () }
    // the measured gap the pin removes — recorded in SCALE.md
    println(f"SCHEMAPIN | batches=24 pinned=${pinnedMs}%.1f ms " +
      f"legacy(mergeSchema)=${legacyMs}%.1f ms")
    assert(legacyMs > 0 && pinnedMs > 0)
  }

  test("history() serves per-commit row stats from metadata alone — zero jobs, zero scans") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    val half = li.where($"l_orderkey" % 2 === 0)
    append(half, dir, "b1") // commit 2
    append(li.where($"l_orderkey" % 2 === 1), dir, "b2") // commit 3
    delete(li.select($"l_orderkey").distinct().orderBy($"l_orderkey")
      .limit(3), dir, "erase-1") // commit 4
    optimize(spark, dir, "opt-1") // commit 5: folded rows
    val h = history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(5))).toList
    assert(h.map(x => (x._1, x._2)) == List((1L, "create"),
      (2L, "append"), (3L, "append"), (4L, "delete"), (5L, "optimize")))
    assert(h(1)._3 == half.count(), "append commit lost its row stat")
    // the optimize snapshot's rows = the folded (delete-applied) data
    assert(h(4)._3 == read(spark, dir).count(),
      "optimize commit's rows != the rewritten table")
    // the history BUILD is metadata-only: commit-log parse, no scans
    assert(jobsDuring { history(spark, dir); () } == 0,
      "history() construction scanned data")
    // a LEGACY snapshot (no rows field — the orphan-repair spec's
    // handcrafted shape) reads as rows_added=0, never an error
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_commits/c99.json"),
      """{"commit":99,"applied":[],"live":[],"kind":"append",""" +
        """"label":"x","delLive":[],"retired":[]}""")
    assert(history(spark, dir).where($"commit_id" === 99)
      .head().getLong(5) == 0L)
  }

  test("a type-conflicting append fails at the writer, before any data byte") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.where($"l_orderkey" % 2 === 0), dir, "b1")
    val ex = intercept[IllegalArgumentException] {
      append(li.where($"l_orderkey" % 2 === 1)
        .withColumn("l_quantity", $"l_quantity".cast("string")), dir, "bad")
    }
    assert(ex.getMessage.contains("l_quantity"))
    assert(!new java.io.File(s"$dir/data/batch=bad").exists(),
      "conflicting append wrote data before failing")
    assert(!new java.io.File(s"$dir/_pending_append_bad.json").exists(),
      "conflicting append announced before failing")
  }

  test("a column differing only in case is rejected at the writer (it would brick reads)") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.where($"l_orderkey" % 2 === 0)
      .withColumn("l_note", lit("x")), dir, "b1")
    // L_NOTE would merge as a NEW column case-sensitively; then every
    // read's user-schema would fail Spark's case-insensitive duplicate
    // check — the exact read-time failure the writer-side merge exists
    // to prevent
    val ex = intercept[IllegalArgumentException] {
      append(li.where($"l_orderkey" % 2 === 1)
        .withColumn("L_NOTE", lit("y")), dir, "b2")
    }
    assert(ex.getMessage.contains("L_NOTE"))
    assert(read(spark, dir).count() ==
      li.where($"l_orderkey" % 2 === 0).count(), "table bricked")
  }

  test("a manifest with a trailing newline (hand-edited) still parses its schema") {
    import spark.implicits._
    val dir = tmp()
    create(spark, dir, zoneCols = Seq("l_partkey"))
    append(li.where($"l_orderkey" % 2 === 0), dir, "b1")
    val expect = read(spark, dir).count()
    val p = java.nio.file.Paths.get(s"$dir/_live.json")
    java.nio.file.Files.writeString(p,
      java.nio.file.Files.readString(p) + "\n") // jq/editor round-trip
    assert(manifest(spark, dir).schemaJson.isDefined)
    assert(jobsDuring { read(spark, dir); () } == 0,
      "trailing newline knocked the read off the pinned path")
    assert(read(spark, dir).count() == expect)
  }
}
