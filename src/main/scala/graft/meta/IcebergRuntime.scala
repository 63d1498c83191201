package graft.meta

/** Runtime seam for a REAL Iceberg deployment (SURVEY.md §7.4 risk 2).
  *
  * The reference executes its maintenance through Iceberg's stored
  * procedures (`CALL <cat>.system.rewrite_data_files/...`, reference
  * backend/build/spark/maintenance.py:153-215). This repo models the
  * same metadata natively ([[MetaDerive]] / [[MetaStore]]) so every
  * query has an exact DuckDB oracle — but a user pointing the engine at
  * real Iceberg tables should get the real procedures, not the
  * simulation.
  *
  * This object is that switch point: it probes the classpath for the
  * Iceberg Spark runtime (the `iceberg-spark-runtime` jar under
  * `$SPARK_HOME/jars` is how Iceberg ships; no such jar exists in this
  * build environment, so the probe is cold here by design). When it is
  * present, the worker and the rollback route run the live `CALL`
  * ([[graft.operators.IcebergCalls]]); otherwise they keep their native
  * implementations, verified against the reference's semantics
  * (ManifestSpec/MaintenanceSpec).
  */
object IcebergRuntime {

  /** Classes the Iceberg Spark runtime ships; any one present means the
    * runtime is on the classpath. */
  private val probeClasses = Seq(
    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    "org.apache.iceberg.spark.SparkCatalog")

  /** True when an Iceberg Spark runtime jar is on the classpath. */
  lazy val available: Boolean = probeClasses.exists { cls =>
    try { Class.forName(cls, false, getClass.getClassLoader); true }
    catch { case _: ClassNotFoundException | _: NoClassDefFoundError => false }
  }
}
