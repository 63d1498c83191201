package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The bucketed view layout (r16 verdict #1): every CDC consumer's
  * sync WRITES must be dirty-bucket-sized, not view-sized — the
  * compute was already delta-sized; this spec pins that the write is
  * too, by counting the rows each sync's new version dir actually
  * materializes. Plus the family/definition fail-loud matrix (ADVICE
  * r16), legacy flat-pointer migration, and the join-view IVM tier's
  * dim-boundary contract.
  */
class GraftTableViewLayoutSpec extends SparkSpec {

  import GraftTable._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("gt-view-").toString

  private def li: DataFrame = Tables.lineitem(spark, sfDir)

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  /** Rows the LATEST sync physically wrote (the pointer's `ver` dir
    * alone — carried-forward buckets live in OLDER dirs by design). */
  private def lastWritten(mirror: String): Long = {
    val v = readViewState(spark, s"$mirror/_sync.json").get.ver
    val d = new java.io.File(s"$mirror/v$v")
    if (!d.exists) 0L else spark.read.parquet(d.toString).count()
  }

  test("row-mirror sync writes are dirty-bucket-sized, not view-sized") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/t"
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    append(li, dir, "b1") // commit 2
    syncMirror(spark, dir, s"$root/m", buckets = 16)
    val viewRows = mirrorRead(spark, s"$root/m").count()
    // a 3-key erasure: the window dirties at most 3 of 16 buckets
    delete(li.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(3), dir, "e1") // commit 3
    syncMirror(spark, dir, s"$root/m")
    val written = lastWritten(s"$root/m")
    assert(written < viewRows / 2,
      s"a 3-key erasure wrote $written of $viewRows view rows — the " +
        "write is view-sized, not dirty-bucket-sized")
    val st = readViewState(spark, s"$root/m/_sync.json").get
    assert(st.buckets.values.count(_ == Seq(2L)) >= 13,
      s"untouched buckets were not carried forward by reference: " +
        st.buckets.values.groupBy(identity).view.mapValues(_.size).toMap)
    // and the mirror still equals the table, bit for bit
    assert(rows(mirrorRead(spark, s"$root/m")) == rows(read(spark, dir)),
      "dirty-bucket sync diverged from the table")
    // an insert-only window APPENDS segments: the write is EXACTLY the
    // delta, regardless of which buckets its keys scatter across (the
    // LSM split — whole-bucket rewrite would pay the buckets' standing
    // rows for a 20-row append)
    val tiny = li.orderBy($"l_orderkey", $"l_linenumber").limit(20)
      .withColumn("l_orderkey", $"l_orderkey" + 7000000L)
    append(tiny, dir, "b2") // commit 4
    syncMirror(spark, dir, s"$root/m")
    assert(lastWritten(s"$root/m") == 20L,
      s"an insert-only window wrote ${lastWritten(s"$root/m")} rows" +
        " for a 20-row delta")
    assert(rows(mirrorRead(spark, s"$root/m")) == rows(read(spark, dir)))
  }

  test("segment lists stay bounded: the MaxViewSegments-th append folds its bucket") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/t"
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    append(li.limit(200), dir, "b0")
    // ONE bucket so every window hits the same segment list
    syncMirror(spark, dir, s"$root/m", buckets = 1)
    (1 to 12).foreach { i =>
      val tiny = li.orderBy($"l_orderkey", $"l_linenumber").limit(5)
        .withColumn("l_orderkey", $"l_orderkey" + 7000000L + i * 100L)
      append(tiny, dir, s"b$i")
      syncMirror(spark, dir, s"$root/m")
      val segs = readViewState(spark, s"$root/m/_sync.json").get
        .buckets.values.map(_.size).maxOption.getOrElse(0)
      assert(segs <= 8,
        s"segment list grew unbounded: $segs after window $i")
      assert(rows(mirrorRead(spark, s"$root/m")) == rows(read(spark, dir)),
        s"mirror diverged after window $i")
    }
  }

  test("agg-mirror sync writes only the buckets of delta groups") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/t"
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    append(li, dir, "b1") // commit 2
    // high-cardinality grouping — the shape the bucketing exists for
    syncAggMirror(spark, dir, s"$root/agg", Seq("l_partkey"),
      Seq("l_quantity"), buckets = 16)
    val groups = aggMirrorRead(spark, s"$root/agg").count()
    delete(li.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(3), dir, "e1") // commit 3
    syncAggMirror(spark, dir, s"$root/agg", Seq("l_partkey"),
      Seq("l_quantity"))
    val written = lastWritten(s"$root/agg")
    assert(written < groups / 2,
      s"a 3-key erasure rewrote $written of $groups groups")
    val expect = read(spark, dir).groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(28,2)")).cast("decimal(28,2)")
          .as("sum_l_quantity"))
    assert(rows(aggMirrorRead(spark, s"$root/agg")) == rows(expect),
      "bucketed agg merge diverged from the from-scratch aggregate")
  }

  test("family and definition drift fail loudly in every direction") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/t"
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    append(li.limit(500), dir, "b1")
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity")
    syncMirror(spark, dir, s"$root/plain")
    syncMirrorWhere(spark, dir, s"$root/where",
      "l_partkey BETWEEN 100 AND 299", cols)
    syncAggMirror(spark, dir, s"$root/agg", Seq("l_returnflag"),
      Seq("l_quantity"))
    // the ADVICE r16 hole: a where-sync pointed at a PLAIN mirror dir
    // must refuse (its pointer carries no pred/cols — before the fix
    // the forall-based check passed and silently delta-maintained a
    // filtered view over an unfiltered baseline)
    val e1 = intercept[IllegalArgumentException] {
      syncMirrorWhere(spark, dir, s"$root/plain",
        "l_partkey BETWEEN 100 AND 299", cols)
    }
    assert(e1.getMessage.contains("view"))
    // and the reverse: a plain sync on a where-mirror dir
    val e2 = intercept[IllegalArgumentException] {
      syncMirror(spark, dir, s"$root/where")
    }
    assert(e2.getMessage.contains("where"))
    // an agg sync on a row mirror, and a row sync on an agg view
    intercept[IllegalArgumentException] {
      syncAggMirror(spark, dir, s"$root/plain", Seq("l_returnflag"),
        Seq("l_quantity"))
    }
    intercept[IllegalArgumentException] { syncMirror(spark, dir, s"$root/agg") }
    // a join sync on anything not a join view
    intercept[IllegalArgumentException] {
      syncJoinMirror(spark, dir, dir, s"$root/plain", "l_orderkey",
        "o_orderkey", Seq("o_orderpriority"))
    }
    // where-definition drift still refuses (the pre-existing contract)
    val e3 = intercept[IllegalArgumentException] {
      syncMirrorWhere(spark, dir, s"$root/where",
        "l_partkey BETWEEN 1 AND 9", cols)
    }
    assert(e3.getMessage.contains("redefine"))
  }

  test("the family/definition rule, cell by cell: every sync against every occupant pointer") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/t"
    val dimDir = s"$root/dim"
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    create(spark, dimDir, zoneCols = Seq("o_orderkey"))
    append(Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority"), dimDir, "dim1")
    append(li.limit(500), dir, "b1") // commit 2
    val pred = "l_partkey BETWEEN 100 AND 299"
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity")
    val callers: Seq[(String, String => (Long, Long))] = Seq(
      "syncMirror" -> (v => syncMirror(spark, dir, v)),
      "syncMirrorWhere" -> (v => syncMirrorWhere(spark, dir, v, pred, cols)),
      "syncJoinMirror" -> (v => syncJoinMirror(spark, dir, dimDir, v,
        "l_orderkey", "o_orderkey", Seq("o_orderpriority"))),
      "syncAggMirror" -> (v => syncAggMirror(spark, dir, v,
        Seq("l_returnflag"), Seq("l_quantity"))))
    // one occupant per family, each written by its own sync at commit 2
    callers.zip(Seq("mirror", "where", "join", "agg")).foreach {
      case ((_, sync), family) => sync(s"$root/$family")
    }
    // pre-bucketed pointers: without a definition, and with where's
    StoreIO.writeString(spark, s"$root/legacy/_sync.json",
      """{"commit":2}""", atomic = true)
    StoreIO.writeString(spark, s"$root/legacy-where/_sync.json",
      s"""{"commit":2,"pred":"$pred",""" +
        s""""cols":[${cols.map(c => s""""$c"""").mkString(",")}]}""",
      atomic = true)
    val occupants =
      Seq("mirror", "where", "join", "agg", "legacy", "legacy-where")
    val accepts = Map(
      "syncMirror" -> Set("mirror", "legacy"),
      "syncMirrorWhere" -> Set("where", "legacy-where"),
      "syncJoinMirror" -> Set("join"),
      "syncAggMirror" -> Set("agg", "legacy"))
    // every pointer is at the live commit, so an accepted sync is a
    // no-op and a refused one throws before writing: the cells share
    // their occupant dirs without disturbing each other
    val wrong = for {
      (caller, sync) <- callers
      occ <- occupants
      accepted = try { sync(s"$root/$occ") == ((2L, 2L)) }
        catch { case _: IllegalArgumentException => false }
      if accepted != accepts(caller).contains(occ)
    } yield s"$caller on '$occ': accepted=$accepted"
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("keyless tables with a map column: row-view syncs bucket by the hashable columns") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/t"
    create(spark, dir, zoneCols = Seq("k")) // no delete keys
    def batch(lo: Long, hi: Long): DataFrame = spark.range(lo, hi)
      .select($"id".as("k"), map(lit("a"), $"id" * 2).as("m"),
        ($"id" % 7).as("x"))
    val pred = "k % 3 = 0"
    val cols = Seq("k", "m")
    def syncBoth(): Unit = {
      syncMirrorWhere(spark, dir, s"$root/where", pred, cols)
      syncMirror(spark, dir, s"$root/plain")
    }
    append(batch(0L, 200L), dir, "b1") // commit 2
    syncBoth() // baselines
    append(batch(200L, 400L), dir, "b2") // commit 3
    syncBoth() // insert-only deltas: each bucket gains a segment
    Seq("where", "plain").foreach { v =>
      assert(readViewState(spark, s"$root/$v/_sync.json").get.buckets
        .values.exists(_.size == 2), s"the $v sync never took the delta path")
    }
    assert(rows(mirrorRead(spark, s"$root/where")) ==
      rows(read(spark, dir).where(expr(pred)).select(cols.map(col): _*)),
      "keyless filtered mirror diverged from the filtered table")
    assert(rows(mirrorRead(spark, s"$root/plain")) == rows(read(spark, dir)),
      "keyless mirror diverged from the table")
  }

  test("a legacy flat pointer reads unchanged; the next sync migrates it to buckets") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/t"
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    append(li.where($"l_orderkey" % 2 === 0), dir, "b1") // commit 2
    // handcraft the pre-bucketed layout: a flat v2 dir + a bare pointer
    read(spark, dir).write.parquet(s"$root/m/v2")
    StoreIO.writeString(spark, s"$root/m/_sync.json",
      """{"commit":2}""", atomic = true)
    assert(rows(mirrorRead(spark, s"$root/m")) == rows(read(spark, dir)),
      "legacy flat pointer no longer readable")
    append(li.where($"l_orderkey" % 2 === 1), dir, "b2") // commit 3
    syncMirror(spark, dir, s"$root/m")
    val st = readViewState(spark, s"$root/m/_sync.json").get
    assert(st.nBuckets > 0 && st.family == "mirror",
      "legacy pointer was not migrated to the bucketed layout")
    assert(rows(mirrorRead(spark, s"$root/m")) == rows(read(spark, dir)),
      "legacy migration re-baseline diverged")
    // keepLast=1 kept the legacy flat dir for a held reader
    assert(new java.io.File(s"$root/m/v2").exists(),
      "the superseded legacy dir was swept under the default keepLast")
  }

  test("a crashed sync's orphan version dir is swept by the next sync; the pointer never sees it") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/t"
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    append(li.limit(400), dir, "b1") // commit 2
    syncMirror(spark, dir, s"$root/m")
    val before = rows(mirrorRead(spark, s"$root/m"))
    // simulate a sync that wrote its version dir and died before the
    // pointer swap: a stray version dir no pointer references
    li.limit(10).write.parquet(s"$root/m/v999/gbkt=0")
    assert(rows(mirrorRead(spark, s"$root/m")) == before,
      "an unreferenced version dir leaked into the pointer read")
    append(li.limit(600), dir, "b2") // commit 3
    syncMirror(spark, dir, s"$root/m")
    assert(!new java.io.File(s"$root/m/v999").exists(),
      "the next sync did not sweep the crashed sync's orphan version")
    assert(rows(mirrorRead(spark, s"$root/m")) == rows(read(spark, dir)))
  }

  test("join mirror: fact-only windows are delta-maintained; a dim commit re-baselines") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/t"
    val dimDir = s"$root/dim"
    create(spark, dir, zoneCols = Seq("l_partkey"),
      deleteKeys = Seq("l_orderkey"))
    create(spark, dimDir, zoneCols = Seq("o_orderkey"))
    val ord = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority")
    val maxKey = li.agg(max($"l_orderkey")).head().getLong(0)
    val mid = maxKey / 2
    // dim covers only the LOW half: the high half enriches to NULL
    // until the dim catches up (the left-join contract)
    append(ord.where($"o_orderkey" <= mid), dimDir, "dim1")
    append(li, dir, "b1") // commit 2
    syncJoinMirror(spark, dir, dimDir, s"$root/m", "l_orderkey",
      "o_orderkey", Seq("o_orderpriority"), buckets = 16)
    def expected: DataFrame = {
      val d = read(spark, dimDir)
      val f = read(spark, dir)
      f.join(broadcast(d), f("l_orderkey") === d("o_orderkey"), "left")
        .drop(d("o_orderkey"))
    }
    assert(rows(mirrorRead(spark, s"$root/m")) == rows(expected))
    val viewRows = mirrorRead(spark, s"$root/m").count()
    // FACT-ONLY window: a small erasure — must delta-maintain (carried
    // buckets prove no re-baseline; write volume proves no fact scan
    // landed in the output path)
    delete(li.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(3), dir, "e1") // commit 3
    syncJoinMirror(spark, dir, dimDir, s"$root/m", "l_orderkey",
      "o_orderkey", Seq("o_orderpriority"))
    val st = readViewState(spark, s"$root/m/_sync.json").get
    assert(st.buckets.values.count(_ == Seq(2L)) >= 13,
      "a fact-only window re-baselined the join mirror")
    val written = lastWritten(s"$root/m")
    assert(written < viewRows / 2,
      s"fact-only window wrote $written of $viewRows rows")
    assert(rows(mirrorRead(spark, s"$root/m")) == rows(expected))
    // DIM BOUNDARY: the dim catches up with the high half — the sync
    // must detect the dim commit and re-baseline (previously-NULL
    // enrichments fill in, which no fact-side delta names)
    append(ord.where($"o_orderkey" > mid), dimDir, "dim2")
    syncJoinMirror(spark, dir, dimDir, s"$root/m", "l_orderkey",
      "o_orderkey", Seq("o_orderpriority"))
    val st2 = readViewState(spark, s"$root/m/_sync.json").get
    assert(st2.dimCommit.contains(manifest(spark, dimDir).commit),
      "the pointer did not record the new dim commit")
    assert(rows(mirrorRead(spark, s"$root/m")) == rows(expected),
      "dim-moved re-baseline diverged from the fresh join")
    assert(mirrorRead(spark, s"$root/m")
      .where($"o_orderpriority".isNull).count() == 0L,
      "the re-baseline kept stale NULL enrichments")
    // definition drift refuses
    val e = intercept[IllegalArgumentException] {
      syncJoinMirror(spark, dir, dimDir, s"$root/m", "l_orderkey",
        "o_orderkey", Seq("o_orderpriority", "o_orderkey"))
    }
    assert(e.getMessage.contains("redefine"))
  }
}
