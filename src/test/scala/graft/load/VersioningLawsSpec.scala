package graft.load

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Versioning laws (SURVEY §5 / §7.4 risk 4) under seeded-random batch
  * sequences — the invariants that must hold for ANY load order:
  *
  *  L1 idempotence: re-merging the identical batch creates nothing and
  *     deprecates nothing (only extends).
  *  L2 uniqueness: at most one open (non-deprecated) range per
  *     (tripletHash, infoHash).
  *  L3 deprecation monotonicity: a deprecated range never resurrects —
  *     deprecated count never decreases across versions.
  *  L4 currency: currentTriples equals exactly the facts asserted for each
  *     subject in its LAST batch (plus untouched subjects' last state).
  *  L5 read shape: every read verb equals, as a multiset, the
  *     reconstruction written out the long way — a window per
  *     (tripletHash, infoHash), open and closed rows as two union arms,
  *     and a five-column distinct.
  */
class VersioningLawsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def batch(rows: Seq[(String, String, String)], t: String): DataFrame =
    rows.toDF("subject", "predicate", "obj")
      .withColumn("objKind", lit("literal"))
      .withColumn("datatype", lit(""))
      .withColumn("extractionMethod", lit("gen"))
      .withColumn("confidence", lit(1.0))
      .withColumn("extractionTime", lit(Timestamp.valueOf(t)))

  test("versioning laws hold over random batch sequences (seeded)") {
    val rnd = new scala.util.Random(42)
    val subjects = Seq("s0", "s1", "s2")
    val predicates = Seq("name", "task", "lang")

    (0 until 2).foreach { trial =>
      val dir = Files.createTempDirectory(s"laws_$trial").toString
      val store = new TripletStore(spark, dir)
      // last asserted fact-set per subject, to check L4
      var lastFacts = Map.empty[String, Set[(String, String)]]
      var lastDeprecated = 0L

      (1 to 4).foreach { step =>
        val time = f"2024-0$step-01 00:00:00"
        val touched = subjects.filter(_ => rnd.nextBoolean()) match {
          case Nil => Seq(subjects(rnd.nextInt(subjects.size)))
          case ts => ts
        }
        val rows = touched.flatMap { s =>
          predicates.filter(_ => rnd.nextDouble() < 0.8).map { p =>
            (s, p, s"v${rnd.nextInt(3)}")
          } match {
            case Nil => Seq((s, "name", "v0"))
            case r => r.distinct
          }
        }
        store.merge(batch(rows, time), Timestamp.valueOf(time))
        touched.foreach { s =>
          lastFacts += s -> rows.filter(_._1 == s).map(r => (r._2, r._3)).toSet
        }

        // the laws must be layout-independent: randomly compact so later
        // steps read (and merge onto) a base + delta mix, not just deltas
        if (rnd.nextDouble() < 0.4) store.compact(keep = 1 + rnd.nextInt(2))

        // L2: unique open range per identity
        val openDup = store.ranges.filter(!col("deprecated"))
          .groupBy("tripletHash", "infoHash").count().filter(col("count") > 1)
        assert(openDup.isEmpty, s"L2 violated at step $step trial $trial")

        // L3: deprecation monotone
        val dep = store.ranges.filter(col("deprecated")).count()
        assert(dep >= lastDeprecated, s"L3 violated at step $step trial $trial")
        lastDeprecated = dep

        // L4: current graph per subject == last asserted facts
        val cur = store.currentTriples
          .select("subject", "predicate", "obj")
          .as[(String, String, String)].collect()
          .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
        lastFacts.foreach { case (s, facts) =>
          assert(cur.getOrElse(s, Set.empty) == facts,
            s"L4 violated for $s at step $step trial $trial: " +
              s"cur=${cur.getOrElse(s, Set.empty)} expected=$facts")
        }
      }

      // L1: idempotent re-merge of the final state
      val finalRows = lastFacts.toSeq.flatMap { case (s, fs) =>
        fs.toSeq.map { case (p, o) => (s, p, o) }
      }
      val s5 = store.merge(batch(finalRows, "2024-06-01 00:00:00"),
        Timestamp.valueOf("2024-06-01 00:00:00"))
      assert(s5.nNew == 0 && s5.nDeprecated == 0,
        s"L1 violated: new=${s5.nNew} dep=${s5.nDeprecated}")
      assert(s5.nExtended == finalRows.size)
    }
  }

  test("L5: every read verb equals the windowed union-and-distinct formulation") {
    val t1 = "2024-01-01 00:00:00"; val t2 = "2024-02-01 00:00:00"
    val t3 = "2024-03-01 00:00:00"; val t4 = "2024-04-01 00:00:00"
    def facts(rows: Seq[(String, String, String, String, Double)], t: String): DataFrame =
      rows.toDF("subject", "predicate", "obj", "extractionMethod", "confidence")
        .withColumn("objKind", lit("literal"))
        .withColumn("datatype", lit(""))
        .withColumn("extractionTime", lit(Timestamp.valueOf(t)))
    val filler = (1 to 4).map(i => (s"f$i", "name", s"n$i", "m", 1.0))
    val batches = Seq(
      t1 -> (filler ++ Seq(
        // one triple under two infoHashes
        ("s1", "name", "A", "m", 1.0), ("s1", "name", "A", "other", 0.5),
        (null, "name", "N", "m", 1.0),
        ("s2", "license", "L1", "m", 1.0), ("s3", "tag", "T1", "m", 1.0))),
      // s1's second infoHash closes while the first extends; L1 and T1 close
      t2 -> Seq(("s1", "name", "A", "m", 1.0), ("s2", "license", "L2", "m", 1.0),
        ("s3", "tag", "T2", "m", 1.0)),
      // L1 re-opens under its closed identity; the null subject moves on
      t3 -> Seq(("s2", "license", "L1", "m", 1.0), (null, "name", "N2", "m", 1.0),
        ("f1", "name", "n1", "m", 1.0)),
      t4 -> Seq(("s3", "tag", "T1", "m", 1.0), ("s1", "name", "A", "m", 1.0),
        ("s1", "name", "B", "m", 1.0),
        ("f2", "name", "n2b", "m", 1.0)))
    val lookups = Seq(Seq("s1"), Seq(null, "s2"), Seq("nobody"),
      Seq("s1", "s2", "s3", null, "f1")) // the last one is above the cap
    val asOfs = Seq(t1, "2024-01-15 00:00:00", t2, t3, t4, "2025-01-01 00:00:00")
      .map(Timestamp.valueOf)
    val tripleCols = Seq("subject", "predicate", "obj", "objKind", "datatype").map(col)

    def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

    Seq(1L, TripletStore.DefaultBucketMinRows).foreach { minRows =>
      val dir = Files.createTempDirectory(s"laws_reads_$minRows").toString
      val store = new TripletStore(spark, dir, autoCompactEvery = 0,
        bucketMinRows = minRows, subjectLiteralCap = 3)
      batches.zipWithIndex.foreach { case ((t, rows), i) =>
        store.merge(facts(rows, t), Timestamp.valueOf(t))
        // after v=2 the base holds L1's open and closed rows at one version
        if (i == 2) store.compact(keep = 1)
      }
      val v = store.currentVersion

      def reference(at: Int, openOnly: Boolean,
                    subjects: Option[Seq[String]] = None): DataFrame = {
        val levels = store.levelsAt(at).get
        val all = subjects.fold(levels)(ss => levels.filter(
          ss.map(x => col("subject") <=> lit(x)).reduce(_ || _)))
        val w = Window.partitionBy("tripletHash", "infoHash")
          .orderBy(col("v").desc, col("deprecated").asc)
        val cols = TripletStore.rangeSchema.fieldNames.toSeq.map(col)
        val open = all.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && !col("deprecated")).select(cols: _*)
        if (openOnly) open
        else open.unionByName(all.filter(col("deprecated")).select(cols: _*))
      }
      def asOfFilter(df: DataFrame, t: Timestamp) =
        df.filter(col("useStart") <= lit(t) &&
          (lit(t) <= col("useEnd") || !col("deprecated")))
      def triples(df: DataFrame) = df.select(tripleCols: _*).distinct()
      val what = s"(bucketMinRows = $minRows)"

      assert(bag(store.ranges) == bag(reference(v, openOnly = false)), s"ranges $what")
      assert(bag(store.currentTriples) == bag(triples(reference(v, openOnly = true))),
        s"currentTriples $what")
      assert(store.distinctSubjectCount ==
        triples(reference(v, openOnly = true)).select("subject").distinct().count(),
        s"distinctSubjectCount $what")
      asOfs.foreach { t =>
        assert(bag(store.asOf(t)) ==
          bag(triples(asOfFilter(reference(v, openOnly = false), t))), s"asOf $t $what")
      }
      lookups.foreach { ss =>
        assert(bag(store.currentTriplesFor(ss)) ==
          bag(triples(reference(v, openOnly = true, Some(ss)))),
          s"currentTriplesFor $ss $what")
        asOfs.foreach { t =>
          assert(bag(store.currentTriplesFor(ss, t)) ==
            bag(triples(asOfFilter(reference(v, openOnly = false, Some(ss)), t))),
            s"currentTriplesFor $ss at $t $what")
        }
      }
      val spo = Seq("subject", "predicate", "obj")
      for (a <- store.oldestRetainedVersion to v; b <- store.oldestRetainedVersion to v) {
        val ra = reference(a, openOnly = true).select(spo.map(col): _*).distinct()
        val rb = reference(b, openOnly = true).select(spo.map(col): _*).distinct()
        val (added, retired) = store.delta(a, b)
        assert(bag(added) == bag(rb.join(ra, spo, "left_anti")), s"delta($a, $b) added $what")
        assert(bag(retired) == bag(ra.join(rb, spo, "left_anti")), s"delta($a, $b) retired $what")
      }
      // the fixture reaches every case it is meant to
      val r = store.ranges
      assert(r.filter(col("subject").isNull).count() >= 2, s"null subject $what")
      assert(r.filter(col("subject") === "s1" && col("obj") === "A")
        .groupBy("deprecated").count().count() == 2, s"two infoHashes $what")
      assert(r.filter(col("subject") === "s2" && col("obj") === "L1")
        .groupBy("infoHash").count().filter(col("count") === 2).count() == 1,
        s"re-opened identity $what")
      assert(new java.io.File(dir, "base=2").isDirectory, s"no base $what")
      Scratch.rm(new java.io.File(dir))
    }
  }

  test("two interleaved writers with mergeWithRetry serialize (fuzzed)") {
    // Two writers race the SAME store through barrier-synchronized
    // merges: every step both compute their MERGE against the same
    // snapshot and race the version rename — one loses and must retry
    // via mergeWithRetry. Proof of serializability: replay the batches
    // single-writer in COMMIT order (recovered from each version's
    // delta tags) into a fresh store and require the full range tables
    // to be identical.
    val dir = Files.createTempDirectory("laws_mw").toString
    val steps = 4
    // each batch tags extractionMethod w{w}s{s} and asserts a unique
    // meta fact, so every committed delta carries >= 1 fresh row naming
    // its batch; writers contend on the SHARED subject too, so commit
    // order is semantically visible, not just structurally
    def wbatch(w: Int, s: Int): (DataFrame, Timestamp) = {
      val t = Timestamp.valueOf(f"2024-0${s + 1}-0${w + 1} 00:00:00")
      val rows = Seq(
        (s"w${w}meta", "step", s"s$s"),
        (s"w${w}sub", "val", s"v${(s * 7 + w) % 3}"),
        ("shared", "owner", s"w$w-s$s"))
      val df = rows.toDF("subject", "predicate", "obj")
        .withColumn("objKind", lit("literal"))
        .withColumn("datatype", lit(""))
        .withColumn("extractionMethod", lit(s"w${w}s$s"))
        .withColumn("confidence", lit(1.0))
        .withColumn("extractionTime", lit(t))
      (df, t)
    }
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        try {
          val store = new TripletStore(spark, dir, autoCompactEvery = 0)
          (0 until steps).foreach { s =>
            val (df, t) = wbatch(w, s)
            // line both writers up on the same snapshot; time-boxed so a
            // dead peer breaks the barrier instead of hanging the suite
            barrier.await(120, java.util.concurrent.TimeUnit.SECONDS)
            store.mergeWithRetry(df, t,
              onRetry = _ => retries.incrementAndGet())
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(600000))
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")

    info(s"lost-race retries observed: ${retries.get()}")
    val store = new TripletStore(spark, dir, autoCompactEvery = 0)
    // every merge landed: dense versions 0..2*steps-1, one per batch
    assert(store.currentVersion == 2 * steps - 1,
      s"expected ${2 * steps} committed versions, " +
        s"newest is v=${store.currentVersion} (retries=${retries.get()})")
    // recover the commit order from each version's fresh meta row
    val order = (0 to store.currentVersion).map { v =>
      val tags = spark.read.parquet(s"$dir/v=$v")
        .filter(col("subject").endsWith("meta") && !col("deprecated"))
        .select("extractionMethod").as[String].collect().distinct
      assert(tags.length == 1, s"v=$v carries ${tags.toSeq}")
      tags.head
    }
    assert(order.distinct.length == 2 * steps, s"order not a permutation: $order")
    // a writer's own batches must appear in its program order
    (0 until 2).foreach { w =>
      val own = order.filter(_.startsWith(s"w$w"))
      assert(own.toSeq == (0 until steps).map(s => s"w${w}s$s"),
        s"writer $w program order broken: ${own.toSeq}")
    }
    // serial replay in commit order == the concurrent history, bit for bit
    val replayDir = Files.createTempDirectory("laws_mw_replay").toString
    val replay = new TripletStore(spark, replayDir, autoCompactEvery = 0)
    order.foreach { tag =>
      val w = tag.charAt(1).asDigit
      val s = tag.charAt(3).asDigit
      val (df, t) = wbatch(w, s)
      replay.merge(df, t)
    }
    val cols = Seq("tripletHash", "infoHash", "subject", "predicate", "obj",
      "useStart", "useEnd", "deprecated")
    def dump(st: TripletStore) = st.ranges
      .select(cols.map(col): _*).collect()
      .map(_.toString).sorted.toSeq
    assert(dump(store) == dump(replay),
      "concurrent history is not the serial replay of its commit order")
    // the shared subject's final owner is the last committed contender
    val lastShared = order.last
    val owner = store.currentTriples
      .filter(col("subject") === "shared" && col("predicate") === "owner")
      .select("obj").as[String].collect().toSeq
    assert(owner == Seq(s"w${lastShared.charAt(1)}-s${lastShared.charAt(3)}"))
  }
}
