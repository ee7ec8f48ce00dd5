package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-card quality filter (P3, `hf_extract/HFDatasetManager.py:717-799`):
  * drop rows with no pipeline tag, no tags, short cards, or cards that are
  * an unfilled default template — detected by counting the template's
  * "[More Information Needed]" placeholders and its indicator section
  * headers. Pure column predicates; fully pushdown/codegen friendly.
  */
object QualityFilter {

  val Placeholder = "[More Information Needed]"

  /** Section headers of the stock model-card template used as
    * default-card indicators (reference heuristic: >= 7 of 8 present +
    * >= 38 placeholders → default card). */
  val Indicators: Seq[String] = Seq(
    "## Model Details", "## Uses", "## Bias, Risks, and Limitations",
    "## Training Details", "## Evaluation", "## Environmental Impact",
    "## Technical Specifications", "## Model Card Contact")

  def occurrences(c: Column, needle: String): Column =
    ((length(c) - length(replace(c, lit(needle), lit("")))) / needle.length)
      .cast("int")

  def indicatorHits(card: Column): Column =
    Indicators.map(p => when(card.contains(p), 1).otherwise(0)).reduce(_ + _)

  def isDefaultCard(card: Column): Column =
    occurrences(card, Placeholder) >= 38 && indicatorHits(card) >= 7

  /** The keep-predicate over the raw snapshot schema (FIXTURES.md §1). */
  def keep(card: Column, pipelineTag: Column, tags: Column,
           minCardLength: Int = 200): Column =
    pipelineTag.isNotNull && pipelineTag =!= "" &&
      size(tags) > 0 &&
      length(card) >= minCardLength &&
      !isDefaultCard(card)

  def apply(models: DataFrame): DataFrame =
    models.filter(keep(col("card"), col("pipeline_tag"), col("tags")))
}
