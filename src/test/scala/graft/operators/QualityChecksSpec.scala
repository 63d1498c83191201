package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class QualityChecksSpec extends SparkSpec {

  test("q76 reports zero violations on the healthy generated tables") {
    val out = QualityChecks.q76QualityChecks(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("orders_pk_dup", "orders_fk_customer",
      "lineitem_fk_orders", "lineitem_qty_positive", "lineitem_price_nonneg",
      "lineitem_fk_not_null"))
    assert(out.values.forall(_ == 0L), s"violations: $out")
  }

  test("checks catch planted violations") {
    import spark.implicits._
    val orders = Tables.orders(spark, sfDir)
    // plant: two extra copies of one pk row, one fk to a missing customer
    val planted = orders
      .unionByName(orders.limit(1)).unionByName(orders.limit(1))
      .unionByName(orders.limit(1).withColumn("o_custkey", lit(-99L)))

    val dup = planted.groupBy($"o_orderkey").count().where($"count" > 1)
      .agg(coalesce(sum($"count" - 1), lit(0L))).head().getLong(0)
    assert(dup >= 2L)

    val customer = Tables.customer(spark, sfDir)
    val orphans = planted.join(customer,
        planted("o_custkey") === customer("c_custkey"), "left_anti").count()
    assert(orphans == 1L)
  }

  test("modality checks: healthy corpus is complete and dimension-uniform") {
    val r = QualityChecks.q117ModalityChecks(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_docs") == r.getAs[Long]("n_vecs"))
    assert(r.getAs[Long]("n_missing_vec") == 0L)
    assert(r.getAs[Long]("n_orphan_vec") == 0L)
    assert(r.getAs[Long]("n_dims") == 1L)
    assert(r.getAs[Int]("dim_min") == r.getAs[Int]("dim_max"))
  }

  test("modality checks: missing, orphan, and ragged-dim vectors are counted") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    // doc 3 has no vector; vec 9 has no doc; vec 2 is ragged (dim 3)
    val vecs = Seq(
      (1L, Array(1f, 2f)), (2L, Array(1f, 2f, 3f)), (9L, Array(1f, 2f)))
      .toDF("vec_id", "embedding")
    val r = QualityChecks.modalityChecks(docs, vecs).collect().head
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_vecs") == 3L)
    assert(r.getAs[Long]("n_missing_vec") == 1L)
    assert(r.getAs[Long]("n_orphan_vec") == 1L)
    assert(r.getAs[Long]("n_dims") == 2L)
    assert(r.getAs[Int]("dim_min") == 2 && r.getAs[Int]("dim_max") == 3)
  }
}
