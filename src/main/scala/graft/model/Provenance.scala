package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.extract.LongFormat

/** The reference's provenance-wrapped wide format (SURVEY §1.1/§1.7): one
  * column per schema property, every cell a LIST of extraction records
  * `{data, extraction_method, confidence, extraction_time}` where `data`
  * is heterogeneous (string | array). Spark columns are homogeneous, so
  * `data` becomes the tagged variant struct (kind, data_str, data_arr) —
  * exactly the mapping table in SURVEY §1.7.
  *
  * The engine's native processing shape is the LONG format
  * (id, property, value, method, confidence, time); these converters give
  * format parity with the reference's fixtures at the boundary.
  */
object Provenance {

  val ValueStruct: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("data_str", StringType),
    StructField("data_arr", ArrayType(StringType))))

  val CellStruct: StructType = StructType(Seq(
    StructField("data", ValueStruct),
    StructField("extraction_method", StringType),
    StructField("confidence", DoubleType),
    StructField("extraction_time", StringType)))

  /** Long → wide: one row per id, one `array<CellStruct>` column per
    * property. Multi-valued properties fold into a single cell whose data
    * is the sorted value array (kind="list"); single values keep
    * kind="str". Deterministic output ordering throughout. */
  def longToWide(long: DataFrame, idCol: String, properties: Seq[String]): DataFrame = {
    val byProp = long
      .groupBy(col(idCol), col("property"), col("method"), col("confidence"),
        col("time"))
      .agg(sort_array(collect_list(col("value"))).as("vals"))
      .withColumn("cell", struct(
        when(size(col("vals")) === 1, struct(
          lit("str").as("kind"),
          element_at(col("vals"), 1).as("data_str"),
          lit(null).cast(ArrayType(StringType)).as("data_arr")))
          .otherwise(struct(
            lit("list").as("kind"),
            lit(null).cast(StringType).as("data_str"),
            col("vals").as("data_arr"))).as("data"),
        col("method").as("extraction_method"),
        col("confidence"),
        col("time").as("extraction_time")))
      .groupBy(col(idCol), col("property"))
      .agg(sort_array(collect_list(col("cell"))).as("cells"))
    properties.foldLeft(
      byProp.groupBy(col(idCol))
        .agg(map_from_entries(collect_list(struct(col("property"), col("cells"))))
          .as("__m"))) { (acc, p) =>
      acc.withColumn(p, coalesce(element_at(col("__m"), p),
        array().cast(ArrayType(CellStruct))))
    }.drop("__m")
  }

  /** Wide → long: every property column's cells, unfolded from the tagged
    * variant to one row per (id, property, scalar value), in one
    * [[graft.extract.LongFormat.unpivot]] projection; null and empty
    * values are dropped, as everywhere in the long format. */
  def wideToLong(wide: DataFrame, idCol: String, properties: Seq[String]): DataFrame =
    LongFormat.unpivot(wide, col(idCol), properties.map { p =>
      flatten(LongFormat.elements(col(s"`$p`")) { cell =>
        val data = cell("data")
        val vals = when(data("kind") === "str", array(data("data_str")))
          .otherwise(data("data_arr"))
        LongFormat.elements(vals)(v => LongFormat.fact(p, v, cell("extraction_method"),
          cell("confidence"), cell("extraction_time").as("time")))
      })
    })
}
