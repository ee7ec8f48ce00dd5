package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The extract layer's one unpivot: wide rows → long-format facts (id,
  * property, value, method, confidence[, extra fields]), all emitted by one
  * `inline(concat(...))` projection. The input is read once however many
  * properties there are; a union with one arm per property rescans and
  * recomputes it per arm (Spark shares no subplans across union children).
  */
object LongFormat {

  /** One fact struct, `value` cast to string. Every fact of one [[unpivot]]
    * must carry the same `extra` (aliased) fields. */
  def fact(property: String, value: Column, method: Column, confidence: Column,
           extra: Column*): Column =
    struct(Seq(lit(property).as("property"), value.cast("string").as("value"),
      method.as("method"), confidence.as("confidence")) ++ extra: _*)

  /** A single-valued property: one fact per row. */
  def scalar(property: String, value: Column, method: Column,
             confidence: Column): Column =
    array(fact(property, value, method, confidence))

  /** `f` over the elements of an array column; a null array is empty. */
  def elements(values: Column)(f: Column => Column): Column =
    transform(coalesce(values, array()), f)

  /** All `facts` (arrays of [[fact]] structs) of every row of `df`, keyed by
    * `id`. Null and empty-string values are dropped. */
  def unpivot(df: DataFrame, id: Column, facts: Seq[Column]): DataFrame =
    df.select(id, inline(concat(facts: _*)))
      .filter(col("value").isNotNull && col("value") =!= "")
}
