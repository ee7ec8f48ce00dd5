package graft.extract

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.extract.SchemaPropertyExtractor.{PropertyQuery, TokenOverlapScorer}
import graft.load.TripletStore
import graft.operators.TagCategorizer.Vocabs
import graft.transform.TripleBuilder

/** In-memory API stub for the live-connector test: object-static state is
  * shared across Spark's closure serialization in local mode, so executor
  * calls are observable from the test. Each card URL rate-limits twice
  * before succeeding; the card body is registered by the test. */
object StubApi {
  import graft.sources.LiveSource.{HttpClient, RateLimited}
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.AtomicInteger

  val cards = new ConcurrentHashMap[String, String]()
  val urlCalls = new ConcurrentHashMap[String, AtomicInteger]()
  val sleeps = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  def reset(): Unit = { cards.clear(); urlCalls.clear(); sleeps.clear() }

  def client(): HttpClient = new HttpClient with Serializable {
    def get(url: String): String = {
      val n = StubApi.urlCalls
        .computeIfAbsent(url, _ => new AtomicInteger(0)).incrementAndGet()
      if (url.endsWith("/models")) StubApi.cards.keySet().toArray
        .map(_.toString).sorted.mkString("\n")
      else if (n <= 2) throw RateLimited(retryAfterMs = None)
      else StubApi.cards.get(url.substring(url.lastIndexOf("=") + 1))
    }
  }
}

/** Stub transport for the BATCHED connector test: records every URL and
  * every sleep; the "c,d" batch rate-limits once (retry path), any batch
  * whose ids contain "f" always fails (failure-as-row path). */
object StubBatchApi {
  import graft.sources.LiveSource.{HttpClient, RateLimited}
  import java.util.concurrent.ConcurrentLinkedQueue
  import java.util.concurrent.atomic.AtomicInteger

  val calls = new ConcurrentLinkedQueue[String]()
  val sleeps = new ConcurrentLinkedQueue[Long]()
  private val limited = new AtomicInteger(0)

  def reset(): Unit = { calls.clear(); sleeps.clear(); limited.set(0) }

  def client(): HttpClient = new HttpClient with Serializable {
    def get(url: String): String = {
      StubBatchApi.calls.add(url)
      if (url.contains("ids=f")) throw new RuntimeException("boom")
      if (url.contains("c,d") && StubBatchApi.limited.incrementAndGet() == 1)
        throw RateLimited(retryAfterMs = None)
      "payload:" + url
    }
  }
}

/** SURVEY §7.2 minimum end-to-end slice: fixture snapshot → P3 filter →
  * P1 + tags + Y1 + E8 → triples + metadata → A7 disambiguation → V1-V5
  * versioned MERGE → current-graph / distinct-count queries → re-load a
  * modified fixture → deprecation asserted (the reference's `_small_1..4`
  * scenario, `test_GraphHandler.py:115-120`).
  */
class PipelineEndToEndSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val goodCard =
    """---
      |license: apache-2.0
      |extra_gated_prompt: agree to terms
      |---
      |# BERT variant
      |A compact transformer model for text classification tasks.
      |## Intended Use
      |Use this model for classifying short english text snippets.
      |## Training Details
      |Trained on a curated corpus with standard hyperparameters for epochs.
      |""".stripMargin + ("filler " * 30)

  private val defaultCard =
    QualityFilter.Indicators.mkString("\n") + "\n" +
      ("[More Information Needed]\n" * 40)

  private def ts(s: String) = Timestamp.valueOf(s)
  private def tstamp(s: String) = new Timestamp(ts(s).getTime)

  private def snapshot(cardForM1: String) = Seq(
    ("org/model-one", "org", tstamp("2024-01-02 00:00:00"), 100L, 5L,
      "transformers", Seq("dataset:squad", "en", "text-classification", "arxiv:1000.1"),
      "text-classification", tstamp("2024-01-01 00:00:00"), cardForM1),
    // filtered out: default card
    ("org/default", "org", tstamp("2024-01-02 00:00:00"), 1L, 0L,
      "transformers", Seq("en"), "fill-mask", tstamp("2024-01-01 00:00:00"), defaultCard),
    // filtered out: no pipeline tag
    ("org/untagged", "org", tstamp("2024-01-02 00:00:00"), 1L, 0L,
      "transformers", Seq("en"), null, tstamp("2024-01-01 00:00:00"), goodCard))
    .toDF("modelId", "author", "last_modified", "downloads", "likes",
      "library_name", "tags", "pipeline_tag", "createdAt", "card")

  private val vocabs = Vocabs(
    languages = Seq("en", "zh"),
    libraries = Seq("transformers"),
    tasks = Seq("text classification", "fill mask"))

  private val queries = Seq(
    PropertyQuery("fair4ml:intendedUse", "intended use of the model"),
    PropertyQuery("fair4ml:trainingDetails", "training details and data"))

  test("extract slice: filter, project, tag, yaml, context-match") {
    val props = ModelCardPipeline.properties(
      snapshot(goodCard), vocabs, new TokenOverlapScorer, queries)
    val byProp = props.filter(col("modelId") === "org/model-one")
      .select("property", "value", "method", "confidence")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq

    // only the good card survives P3
    assert(props.select("modelId").distinct().as[String].collect().toSeq ==
      Seq("org/model-one"))
    // P1 known fields
    assert(byProp.contains(("schema.org:name", "model-one", "Parsed_from_HF_dataset")))
    assert(byProp.exists(p => p._1 == "schema.org:url" &&
      p._2 == "https://huggingface.co/org/model-one"))
    // §2.4 tag buckets
    assert(byProp.contains(("fair4ml:trainedOn", "squad", "Parsed_from_HF_tags")))
    assert(byProp.contains(("codemeta:referencePublication",
      "https://arxiv.org/abs/1000.1", "Parsed_from_HF_tags")))
    assert(byProp.contains(("fair4ml:mlTask", "text classification", "Parsed_from_HF_tags")))
    // Y1 front-matter
    assert(byProp.contains(("schema.org:license", "apache-2.0", "Parsed_from_YAML")))
    assert(byProp.exists(p => p._1 == "schema.org:conditionsOfAccess" &&
      p._2.contains("agree to terms")))
    // E8 context matching finds the right sections
    val intended = props.filter(col("property") === "fair4ml:intendedUse")
      .select("value").as[String].head()
    assert(intended.contains("classifying short english text"))
    val training = props.filter(col("property") === "fair4ml:trainingDetails")
      .select("value").as[String].head()
    assert(training.contains("curated corpus"))
  }

  /** Edge rows for the one-pass laws: no front matter, a front-matter-only
    * card (empty description), empty-string and null known fields, tags
    * that are only prefixed, a pipeline_tag outside the vocabulary, and
    * duplicate tags — plus the cards `snapshot` already filters out. */
  private def edgeSnapshot = {
    val bare = "# Plain card\nNo front matter here, only prose about training. " +
      ("words " * 40)
    val fmOnly = "---\nlicense: mit\nlicense_link: " + ("x" * 220) + "\n---"
    snapshot(goodCard).union(Seq(
      ("org/bare", "", tstamp("2024-01-02 00:00:00"), 1L, 0L, "transformers",
        Seq("dataset:imdb", "arxiv:2001.1", "base_model:org/base"),
        "robotics", null, bare),
      ("org/fm-only", null, null, 1L, 0L, "transformers",
        Seq("en", "en", "dataset:squad", "dataset:squad", "transformers",
          "transformers", "Fill-Mask"),
        "fill-mask", tstamp("2024-01-01 00:00:00"), fmOnly))
      .toDF("modelId", "author", "last_modified", "downloads", "likes",
        "library_name", "tags", "pipeline_tag", "createdAt", "card"))
  }

  test("properties == the arm-per-property reference, as a multiset") {
    val snap = edgeSnapshot
    // the oracle: one union arm per property, each a filtered projection
    val filtered = QualityFilter(snap)
    val tagged = graft.operators.TagCategorizer.categorize(KnownFields(filtered), vocabs)
    def arm(df: org.apache.spark.sql.DataFrame, prop: String,
            value: org.apache.spark.sql.Column, method: String) =
      df.select(col("modelId"), lit(prop).as("property"),
          value.cast("string").as("value"), lit(method).as("method"),
          lit(1.0).as("confidence"))
        .filter(col("value").isNotNull && col("value") =!= "")
    val known = Seq("schema.org:name" -> "name", "schema.org:identifier" -> "identifier",
      "fair4ml:sharedBy" -> "shared_by", "schema.org:dateCreated" -> "date_created",
      "schema.org:datePublished" -> "date_published",
      "schema.org:dateModified" -> "date_modified", "schema.org:url" -> "model_url",
      "schema.org:discussionUrl" -> "discussion_url", "codemeta:readme" -> "readme_url",
      "schema.org:description" -> "description")
      .map { case (p, c) => arm(tagged, p, col(c), "Parsed_from_HF_dataset") }
    val tags = Seq("fair4ml:trainedOn" -> "trained_on",
      "fair4ml:evaluatedOn" -> "evaluated_on",
      "codemeta:referencePublication" -> "reference_publication",
      "fair4ml:fineTunedFrom" -> "fine_tuned_from", "schema.org:inLanguage" -> "in_language",
      "fair4ml:mlTask" -> "ml_task", "schema.org:keywords" -> "keywords")
      .map { case (p, c) =>
        arm(tagged.select(col("modelId"), explode(col(c)).as("v")), p, col("v"),
          "Parsed_from_HF_tags")
      }
    import graft.text.FrontMatter
    val license = udf((c: String) => FrontMatter.license(FrontMatter.parse(c)).orNull)
    val gated = udf((c: String) =>
      FrontMatter.conditionsOfAccess(FrontMatter.parse(c)).orNull)
    val yaml = Seq(
      arm(filtered, "schema.org:license", license(col("card")), "Parsed_from_YAML"),
      arm(filtered, "schema.org:conditionsOfAccess", gated(col("card")),
        "Parsed_from_YAML"))
    val matched = SchemaPropertyExtractor
      .extract(filtered, queries, new TokenOverlapScorer).toDF()
      .select("modelId", "property", "value", "method", "confidence")
    val reference = (known ++ tags ++ yaml :+ matched).reduce(_ unionByName _)

    def bag(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, String, String, Double)].collect()
        .groupBy(identity).map { case (k, v) => k -> v.length }
    val got = ModelCardPipeline.properties(snap, vocabs, new TokenOverlapScorer, queries)
    val want = bag(reference)
    assert(bag(got) == want)

    // the fixture reaches every edge it was built for
    val ids = want.keys.map(_._1).toSet
    assert(ids == Set("org/model-one", "org/bare", "org/fm-only"))
    def valuesOf(id: String, prop: String) =
      want.keys.collect { case (`id`, `prop`, v, _, _) => v }.toSet
    assert(valuesOf("org/bare", "schema.org:license").isEmpty)
    assert(valuesOf("org/bare", "fair4ml:sharedBy").isEmpty)       // "" author
    assert(valuesOf("org/fm-only", "fair4ml:sharedBy").isEmpty)    // null author
    assert(valuesOf("org/fm-only", "schema.org:description").isEmpty)
    assert(valuesOf("org/fm-only", "schema.org:license") == Set("mit"))
    assert(valuesOf("org/bare", "fair4ml:mlTask").isEmpty)         // robotics
    assert(valuesOf("org/bare", "fair4ml:fineTunedFrom") == Set("org/base"))
    assert(want(("org/fm-only", "fair4ml:trainedOn", "squad", "Parsed_from_HF_tags",
      1.0)) == 1)
  }

  test("descriptions carry no surrounding whitespace; front matter alone is none") {
    // the front-matter-only card ends in a newline, as generated cards do
    val fmOnly = "---\nlicense: mit\nlicense_link: " + ("x" * 220) + "\n---\n"
    val snap = snapshot(goodCard).union(Seq(
      ("org/fm-only-nl", "org", tstamp("2024-01-02 00:00:00"), 1L, 0L,
        "transformers", Seq("en"), "fill-mask", tstamp("2024-01-01 00:00:00"),
        fmOnly))
      .toDF("modelId", "author", "last_modified", "downloads", "likes",
        "library_name", "tags", "pipeline_tag", "createdAt", "card"))
    val props = ModelCardPipeline.properties(snap, vocabs, new TokenOverlapScorer, queries)
    assert(props.filter(col("modelId") === "org/fm-only-nl").count() > 0,
      "the front-matter-only card must survive the quality filter")
    val desc = props.filter(col("property") === "schema.org:description")
      .select("modelId", "value").as[(String, String)].collect().toMap
    assert(!desc.contains("org/fm-only-nl"), s"whitespace description: $desc")
    assert(desc("org/model-one").startsWith("# BERT variant"),
      desc("org/model-one").take(20))
    assert(desc.values.forall(v => v == v.strip), desc)
  }

  test("properties scans the snapshot twice and parses front matter once") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Files.createTempDirectory("e2e_snapshot").resolve("snap").toString
    edgeSnapshot.write.parquet(dir)
    val props = ModelCardPipeline.properties(spark.read.parquet(dir), vocabs,
      new TokenOverlapScorer, queries)
    props.collect()
    val nodes = graft.PlanWalk.walk(props.queryExecution.executedPlan)
    // one scan for the parsed-fact arm, one for the context-match arm
    assert(nodes.count(_.isInstanceOf[FileSourceScanExec]) == 2)
    assert(nodes.flatMap(_.expressions).flatMap(_.collect { case u: ScalaUDF => u })
      .size == 1)
  }

  test("E8 dispatch: all three strategies, identical provenance wrapping") {
    import graft.extract.SchemaPropertyExtractor.Strategy
    val scorer = new TokenOverlapScorer
    val inference = new QaEngine.EchoBackend
    val models = snapshot(goodCard).filter(col("modelId") === "org/model-one")

    val byStrategy = Seq(
      Strategy.ContextMatching -> "DirectContextMatch_SectionContent",
      Strategy.Grouped -> "GroupedQA",
      Strategy.Individual -> "IndividualQA").map { case (st, expectMethod) =>
      val out = SchemaPropertyExtractor
        .extract(models, queries, scorer, st, inference).collect()
      // identical wrapping: every strategy emits one row per property with
      // the same shape and its own method tag
      assert(out.map(_.property).toSet ==
        Set("fair4ml:intendedUse", "fair4ml:trainingDetails"), s"$st: $out")
      assert(out.forall(_.method == expectMethod), s"$st methods: ${out.toSeq}")
      assert(out.forall(e => e.modelId == "org/model-one" && e.confidence >= 0.0))
      st -> out.map(e => e.property -> e.value).toMap
    }.toMap

    // context matching returns the section content verbatim
    assert(byStrategy(Strategy.ContextMatching)("fair4ml:intendedUse")
      .contains("classifying short english text"))
    // the QA strategies answer THROUGH the inference backend: the echo
    // stub returns the best-overlapping context sentence per question
    assert(byStrategy(Strategy.Grouped)("fair4ml:intendedUse")
      .contains("classifying short english text"))
    assert(byStrategy(Strategy.Individual)("fair4ml:trainingDetails")
      .contains("curated corpus"))

    // config-string dispatch mirrors the reference: unknown → individual
    assert(Strategy.parse("grouped") == Strategy.Grouped)
    assert(Strategy.parse("context_matching") == Strategy.ContextMatching)
    assert(Strategy.parse("whatever") == Strategy.Individual)

    // headerless card: the unstructured text still becomes the context
    // (one untitled section) and every property gets a wrapped answer
    val bare = Seq(("org/bare", "just one unstructured line about training data"))
      .toDF("modelId", "card")
    val bareOut = SchemaPropertyExtractor
      .extract(bare, queries, scorer, Strategy.Individual, inference).collect()
    assert(bareOut.length == 2 && bareOut.forall(_.method == "IndividualQA"))
    assert(bareOut.exists(_.value.contains("unstructured line about training")))

    // grouped strategy under a small maxPerGroup still covers every property
    val many = (1 to 7).map(i => PropertyQuery(s"p:prop$i", s"property $i about training"))
    val grouped = SchemaPropertyExtractor
      .extract(models, many, scorer, Strategy.Grouped, inference, maxPerGroup = 3)
      .collect()
    assert(grouped.map(_.property).toSet == many.map(_.property).toSet)

    // duplicate queryText: fair4ml:license and schema.org:license both
    // humanize to "License. <same description>" — index-based grouping
    // must keep BOTH properties (a text-keyed lookup extracted one twice)
    val dupText = Seq(
      PropertyQuery("fair4ml:license", "license of the model"),
      PropertyQuery("schema.org:license", "license of the model"))
    assert(dupText.map(_.queryText).distinct.size == 1, "precondition")
    val dupOut = SchemaPropertyExtractor
      .extract(models, dupText, scorer, Strategy.Grouped, inference).collect()
    assert(dupOut.map(_.property).sorted.toSeq ==
      Seq("fair4ml:license", "schema.org:license"), dupOut.toSeq)
  }

  test("live-connector skeleton: driver list + mapPartitions fetch + backoff") {
    import graft.sources.LiveSource
    import graft.sources.LiveSource.RetryPolicy

    StubApi.reset()
    StubApi.cards.put("org/model-one", goodCard)
    StubApi.cards.put("org/default", defaultCard)
    StubApi.cards.put("org/untagged", goodCard)

    // driver-side bounded LIST
    val ids = LiveSource.listIds(StubApi.client(), "https://stub/api/models", 10)
    assert(ids == Seq("org/default", "org/model-one", "org/untagged"))

    // executor-side fetch: every card URL 429s twice, then succeeds; the
    // injected sleep records the backoff schedule instead of waiting
    val policy = RetryPolicy(baseBackoffMs = 10,
      sleep = ms => { StubApi.sleeps.add(ms); () })
    val fetched = LiveSource.fetch(spark, ids, () => StubApi.client(),
      id => s"https://stub/api/card?id=$id", policy, partitions = 2)
    val rows = fetched.collect()
    assert(rows.length == 3 && rows.forall(_.ok))
    assert(rows.map(r => r.id -> r.payload).toMap ==
      Map("org/model-one" -> goodCard, "org/default" -> defaultCard,
        "org/untagged" -> goodCard))
    // exponential backoff per id: 10 ms then 20 ms
    assert(StubApi.sleeps.toArray.map(_.asInstanceOf[Long]).sorted.toSeq ==
      Seq(10L, 10L, 10L, 20L, 20L, 20L))

    // a record that stays rate-limited past maxRetries surfaces as a row,
    // not a job failure
    StubApi.reset()
    StubApi.cards.put("org/dead", goodCard)
    val strict = RetryPolicy(maxRetries = 1, baseBackoffMs = 1,
      sleep = _ => ())
    val dead = LiveSource.fetch(spark, Seq("org/dead"), () => StubApi.client(),
      id => s"https://stub/api/card?id=$id", strict).collect().head
    assert(!dead.ok && dead.payload == null)

    // fetched payloads flow into the same extraction pipeline as fixtures
    StubApi.reset()
    StubApi.cards.put("org/model-one", goodCard)
    StubApi.cards.put("org/default", defaultCard)
    StubApi.cards.put("org/untagged", goodCard)
    val withCards = snapshot(goodCard).drop("card")
      .join(LiveSource.fetch(spark, ids, () => StubApi.client(),
          id => s"https://stub/api/card?id=$id", policy)
        .toDF().select(col("id").as("modelId"), col("payload").as("card")),
        "modelId")
    val props = ModelCardPipeline.properties(
      withCards, vocabs, new TokenOverlapScorer, queries)
    assert(props.select("modelId").distinct().as[String].collect().toSeq ==
      Seq("org/model-one"))
  }

  test("batched fetch: one call per id group, pacing, retry, failures as rows") {
    import graft.sources.LiveSource
    import graft.sources.LiveSource.RetryPolicy

    StubBatchApi.reset()
    val policy = RetryPolicy(baseBackoffMs = 10,
      sleep = ms => { StubBatchApi.sleeps.add(ms); () })
    val out = LiveSource.fetchBatched(spark, Seq("a", "b", "c", "d", "e"),
        () => StubBatchApi.client(), ids => s"stub://batch?ids=${ids.mkString(",")}",
        batchSize = 2, pacingMs = 7, policy = policy, partitions = 1)
      .collect().sortBy(_.batchId)

    // driver-side grouping: 2 + 2 + 1 in input order
    assert(out.map(_.ids.toSeq).toSeq == Seq(Seq("a", "b"), Seq("c", "d"), Seq("e")))
    assert(out.forall(_.ok))
    assert(out.head.payload == "payload:stub://batch?ids=a,b")
    // ONE transport call per batch (plus exactly one 429 retry on c,d)
    val calls = StubBatchApi.calls.toArray.map(_.toString)
    assert(calls.length == 4 && calls.count(_.contains("c,d")) == 2)
    // pacing BETWEEN batches in the partition (2 gaps of 7 ms), never
    // before the first; plus the one 10 ms backoff sleep
    assert(StubBatchApi.sleeps.toArray.map(_.asInstanceOf[Long]).sorted.toSeq ==
      Seq(7L, 7L, 10L))

    // a batch that keeps failing surfaces as a row carrying its ids
    StubBatchApi.reset()
    val dead = LiveSource.fetchBatched(spark, Seq("f1", "f2", "g"),
        () => StubBatchApi.client(), ids => s"stub://batch?ids=${ids.mkString(",")}",
        batchSize = 2, pacingMs = 0, policy = policy).collect().sortBy(_.batchId)
    assert(!dead(0).ok && dead(0).error == "boom" && dead(0).ids == Seq("f1", "f2"))
    assert(dead(1).ok && dead(1).ids == Seq("g"))
  }

  test("full slice into versioned store with deprecation on re-load") {
    val dir = Files.createTempDirectory("e2e_store").toString
    val store = new TripletStore(spark, dir)
    val backend = new TokenOverlapScorer

    // load v1
    val t1 = ts("2024-01-10 00:00:00")
    val props1 = ModelCardPipeline.properties(snapshot(goodCard), vocabs, backend, queries)
    val inc1 = ModelCardPipeline.toTriples(props1, "hf", t1)
    store.merge(inc1, t1)
    val nTriples = store.currentTriples.count()
    assert(nTriples > 10)
    assert(store.distinctSubjectCount == 1)

    // disambiguation view over the metadata side
    val meta = inc1.select("subject", "predicate", "obj",
      "extractionMethod", "confidence", "extractionTime")
    assert(TripleBuilder.disambiguate(meta).count() ==
      meta.dropDuplicates("subject", "predicate", "obj").count())

    // v2: the card's license changes → old license deprecated, new created
    val cardV2 = goodCard.replace("license: apache-2.0", "license: mit")
    val t2 = ts("2024-02-10 00:00:00")
    val props2 = ModelCardPipeline.properties(snapshot(cardV2), vocabs, backend, queries)
    val inc2 = ModelCardPipeline.toTriples(props2, "hf", t2)
    val s2 = store.merge(inc2, t2)
    assert(s2.nNew == 1, s"expected 1 new (mit), got ${s2.nNew}")
    assert(s2.nDeprecated == 1, s"expected 1 deprecated (apache-2.0), got ${s2.nDeprecated}")

    val lic = store.currentTriples
      .filter(col("predicate") === "schema.org:license")
      .select("obj").as[String].collect().toSeq
    assert(lic == Seq("mit"))

    // as-of January still sees apache-2.0
    val licJan = store.asOf(ts("2024-01-15 00:00:00"))
      .filter(col("predicate") === "schema.org:license")
      .select("obj").as[String].collect().toSet
    assert(licJan contains "apache-2.0")

    // V6 delta between snapshots
    val (added, retired) = store.delta(0, 1)
    assert(added.select("obj").as[String].collect().toSet == Set("mit"))
    assert(retired.select("obj").as[String].collect().toSet == Set("apache-2.0"))
  }
}
