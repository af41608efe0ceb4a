package graft

import org.apache.spark.sql.SparkSession

import graft.export.StagedExport

/** Every table's rows in one network's warehouse subtree, each table's rows
  * as sorted `|`-joined strings; an empty table directory reads as no rows.
  * The value gate of the specs that land or rewrite a warehouse. */
object WarehouseRows {
  def apply(spark: SparkSession, netDir: String): Map[String, Seq[String]] =
    StagedExport.warehouseTableNames.map { t =>
      val d = new java.io.File(s"$netDir/$t")
      t -> (if (!d.isDirectory || d.listFiles().isEmpty) Seq.empty
        else spark.read.parquet(d.getPath).collect().toSeq
          .map(_.toSeq.mkString("|")).sorted)
    }.toMap
}
