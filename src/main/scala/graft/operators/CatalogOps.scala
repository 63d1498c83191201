package graft.operators

import org.apache.spark.sql.SparkSession

import graft.meta.Model

/** Catalog scans over the live Spark catalog — the reference's Glue
  * listing surface (SURVEY.md §2.1 S1/S2/S4;
  * iceberg_client.go:329-406).
  *
  * External-catalog seam: every method here goes through
  * `spark.catalog` / `spark.table`, which resolve against whatever
  * catalogs the session is configured with — a Glue-backed (or any
  * other) catalog plugs in via standard session config
  * (`spark.sql.catalog.<name>=<CatalogPlugin impl>` plus the vendor's
  * catalog-impl settings), not via code changes in this file. The same
  * discipline as [[graft.meta.IcebergRuntime]]: environment supplies
  * metadata SOURCES; operator code is source-agnostic.
  */
object CatalogOps {

  /** S1: database names, sorted (the reference takes the last path
    * segment of the Glue namespace and sorts,
    * iceberg_client.go:386-406). */
  def listDatabases(spark: SparkSession): Seq[String] =
    spark.catalog.listDatabases().collect().map(_.name).toSeq.sorted

  /** S2: tables of a database, sorted by name
    * (iceberg_client.go:329-350). */
  def listTables(spark: SparkSession, database: String): Seq[String] =
    spark.catalog.listTables(database).collect().map(_.name).toSeq.sorted

  /** S4: schema as name/type pairs with Spark's recursive struct/array/
    * map rendering (the reference formats these itself,
    * iceberg_client.go:498-537 — `DataType.simpleString` produces the
    * same `struct<…>`/`array<…>`/`map<k,v>` shapes). */
  def describeTable(spark: SparkSession, table: String): Seq[Model.TableColumn] =
    spark.table(table).schema.fields.toSeq.map(f =>
      Model.TableColumn(f.name, f.dataType.simpleString))
}
