package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver's TESTDATA has shipped `events.ts` under two physical
  * parquet schemas across regenerations: TIMESTAMP(NANOS) (read as long
  * via the legacy flag) and TIMESTAMP(MICROS). `Tables.events` must load
  * either and yield identical TimestampType micros — a regression here
  * silently reds every events-family query (round-7 postmortem).
  *
  * Loads read with a memoized schema ([[Tables.schemaOf]]): a repeat
  * load starts no inference job, yet a rewritten file, a changed
  * parquet conf, a self-join and plan-keyed caches all still see what
  * a fresh `spark.read.parquet` would give them. */
class TablesSpec extends SparkSpec {

  // One synthetic event at a micros-exact instant plus a ragged-ns one.
  private val microsA = 1700000000123456L // 2023-11-14T22:13:20.123456Z
  private val microsB = 1700000999999999L

  private def writeDir(): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("tables-spec")
    d.toFile.deleteOnExit()
    d
  }

  /** Stage `df` as the single-file `<dir>/<name>.parquet` layout
    * Tables.load reads, replacing any earlier file. */
  private def stage(df: DataFrame, dir: java.nio.file.Path,
      name: String): java.nio.file.Path = {
    val tmp = dir.resolve(s"$name-tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(part, dir.resolve(s"$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** A parquet file whose `ts` is physical TIMESTAMP(NANOS) — the
    * legacy TESTDATA shape, which Spark itself cannot write. */
  private def writeNanosEvents(file: java.nio.file.Path,
      nanos: Seq[Long]): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), conf))
      .withType(schema).withConf(conf).build()
    val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("event_id", i + 1L).append("ts", ns))
    } finally w.close()
  }

  private def load(dir: String): Seq[Long] =
    Tables.events(spark, dir)
      .select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq.sorted

  test("events loads a nanos-as-long physical schema (legacy TESTDATA)") {
    val dir = writeDir()
    import spark.implicits._
    // 789 trailing ns on the second row: integral div must floor to µs.
    stage(Seq((1L, microsA * 1000L), (2L, microsB * 1000L + 789L))
      .toDF("event_id", "ts"), dir, "events")
    assert(load(dir.toString) == Seq(microsA, microsB))
    assert(Tables.events(spark, dir.toString).schema("ts").dataType == TimestampType)
  }

  test("events loads a timestamp[us] physical schema (current TESTDATA)") {
    val dir = writeDir()
    import spark.implicits._
    stage(Seq((1L, microsA), (2L, microsB))
      .toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")),
      dir, "events")
    assert(load(dir.toString) == Seq(microsA, microsB))
    assert(Tables.events(spark, dir.toString).schema("ts").dataType == TimestampType)
  }

  test("documents/embeddings survive a narrower-typed regeneration") {
    import spark.implicits._
    val dir = writeDir()
    // int32 ids / counts, double embeddings — plausible regeneration drift
    stage(Seq((1, "hello world", "en", "web", 11))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), dir, "documents")
    stage(Seq((1, Array(0.5, 1.5), 3))
      .toDF("vec_id", "embedding", "label"), dir, "embeddings")

    val docs = Tables.documents(spark, dir.toString)
    assert(docs.schema("doc_id").dataType == LongType)
    assert(docs.schema("n_chars").dataType == LongType)
    assert(docs.select("doc_id", "n_chars").collect().head.toSeq == Seq(1L, 11L))
    val vecs = Tables.embeddings(spark, dir.toString)
    assert(vecs.schema("vec_id").dataType == LongType)
    assert(vecs.schema("embedding").dataType
      .asInstanceOf[ArrayType].elementType == FloatType)
    assert(vecs.schema("label").dataType == IntegerType)
    assert(vecs.select("embedding").as[Array[Float]].collect().head.toSeq
      == Seq(0.5f, 1.5f))
  }

  test("TESTDATA events loads with a TimestampType ts and sane range") {
    val df = Tables.events(spark, sfDir)
    assert(df.schema("ts").dataType == TimestampType)
    val (lo, hi) = df.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    // epoch-µs magnitudes, not raw nanos misread as micros
    assert(lo > 1000000000000000L && hi < 4102444800000000L)
  }

  test("a repeat load of an unchanged file starts no Spark job") {
    import spark.implicits._
    val dir = writeDir()
    stage(Seq((1L, "a")).toDF("k", "v"), dir, "region")
    assert(jobsDuring(Tables.load(spark, dir.toString, "region")) == 1,
      "the first load should run Spark's schema inference once")
    assert(jobsDuring(Tables.load(spark, dir.toString, "region")) == 0,
      "a repeat load re-ran schema inference")
  }

  test("a rewritten file with a different column set is inferred again") {
    import spark.implicits._
    val dir = writeDir()
    val f = stage(Seq((1L, "a")).toDF("k", "v"), dir, "part")
    assert(Tables.load(spark, dir.toString, "part").columns.toSeq == Seq("k", "v"))
    val before = (java.nio.file.Files.size(f), f.toFile.lastModified)
    stage(Seq((2L, 3.5, true)).toDF("k", "w", "z"), dir, "part")
    f.toFile.setLastModified(before._2 + 2000L)
    assert((java.nio.file.Files.size(f), f.toFile.lastModified) != before)
    val df = Tables.load(spark, dir.toString, "part")
    assert(df.columns.toSeq == Seq("k", "w", "z"))
    assert(df.collect().map(_.toSeq).toSeq == Seq(Seq(2L, 3.5, true)))
  }

  test("a nanos ts resolves under whichever nanosAsLong the session holds") {
    val dir = writeDir()
    writeNanosEvents(dir.resolve("events.parquet"),
      Seq(microsA * 1000L, microsB * 1000L + 789L))
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    def raw = Tables.load(spark, dir.toString, "events")
    try {
      spark.conf.set(key, "true")
      assert(raw.schema("ts").dataType == LongType)
      // under false Spark refuses the physical type; the memoized
      // LongType from the other conf must not mask that
      spark.conf.set(key, "false")
      val ex = intercept[Exception](raw)
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("PARQUET_TYPE_ILLEGAL")),
        s"expected the illegal-type refusal, got: $ex")
      // events sets the flag itself and normalizes the long nanos
      assert(load(dir.toString) == Seq(microsA, microsB))
      assert(spark.conf.get(key) == "true")
      assert(raw.schema("ts").dataType == LongType)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a self-join of two orders loads resolves distinct attributes") {
    val a = Tables.orders(spark, sfDir)
    val b = Tables.orders(spark, sfDir)
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty,
      "two loads share attribute ids — a self-join could not tell them apart")
    val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
    assert(joined.count() == a.count(), "self-join on the key is not one row per order")
  }

  test("two loads of one table have equal canonical plans, so plan-keyed caches hit") {
    assert(Tables.orders(spark, sfDir).queryExecution.analyzed.canonicalized ==
      Tables.orders(spark, sfDir).queryExecution.analyzed.canonicalized)
  }
}
