package graft.meta

import graft.SparkSpec

/** The Iceberg runtime seam: cold in this environment (no
  * iceberg-spark-runtime jar ships here), so the worker and the
  * rollback route take their native paths — a deployment WITH the jar
  * flips `available` and they run the live `CALL` instead. */
class IcebergRuntimeSpec extends SparkSpec {

  test("probe is cold in this environment and fallbacks are graceful") {
    assert(!IcebergRuntime.available)
  }
}
