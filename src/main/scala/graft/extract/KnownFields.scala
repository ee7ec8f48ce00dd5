package graft.extract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Known-field projection (P1, `core/ModelCardToSchemaParser.py:211-294`):
  * the 13 directly derivable FAIR4ML properties — copies, ISO date
  * formatting, URL templates, YAML-front-matter-stripped description, and
  * the model name from the id's last path segment. One codegen'd
  * projection, no UDFs.
  */
object KnownFields {

  private val Iso = "yyyy-MM-dd'T'HH:mm:ss"

  def apply(models: DataFrame): DataFrame =
    models
      .withColumn("name", element_at(split(col("modelId"), "/"), -1))
      .withColumn("identifier", col("modelId"))
      .withColumn("shared_by", col("author"))
      .withColumn("date_created", date_format(col("createdAt"), Iso))
      .withColumn("date_published", date_format(col("createdAt"), Iso))
      .withColumn("date_modified", date_format(col("last_modified"), Iso))
      .withColumn("model_url",
        concat(lit("https://huggingface.co/"), col("modelId")))
      .withColumn("discussion_url",
        concat(lit("https://huggingface.co/"), col("modelId"), lit("/discussions")))
      .withColumn("readme_url",
        concat(lit("https://huggingface.co/"), col("modelId"),
          lit("/blob/main/README.md")))
      // strip ALL surrounding whitespace (`trim` takes only spaces): the
      // newline after the front matter must not lead the description,
      // and a front-matter-only card must yield "" (dropped), not "\n"
      .withColumn("description", regexp_replace(
        regexp_replace(col("card"), "(?s)---.*?---", ""), "^\\s+|\\s+$", ""))
}
