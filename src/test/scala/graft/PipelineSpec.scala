package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.spark.{CorpusGen, Pipeline}

/** End-to-end Spark pipeline tests: scan -> mapPartitions kernel ->
  * predicates/joins, with a byte-identical match-rate gate against the
  * corpus ground truth (the north-rule invariant), plus resume and
  * metrics behavior. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("pipeline-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def beforeAll(): Unit = spark = newSession()

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("extraction is byte-identical per url over the full corpus") {
    val corpus = CorpusGen.corpus(spark, rows = 120, partitions = 6).cache()
    val extracted = Pipeline.extract(spark, CorpusGen.inputView(corpus)).toDF()
    val joined = extracted.join(corpus.select("url", "expected", "kind"), Seq("url"))
    val total = joined.count()
    val matched = joined.filter(col("text") === col("expected")).count()
    assert(total == 120)
    assert(matched == total, {
      val bad = joined.filter(col("text") =!= col("expected"))
        .select("url", "kind").limit(5).collect().mkString(", ")
      s"mismatches: $bad"
    })
  }

  test("all format branches are exercised on one codepath") {
    val corpus = CorpusGen.corpus(spark, rows = 45, partitions = 3)
    val modes = Pipeline.extract(spark, CorpusGen.inputView(corpus))
      .toDF().groupBy("mode").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(modes.contains("pdf-tagged"))
    assert(modes.contains("html"))
    assert(modes.contains("text"))
    assert(!modes.contains("error"))
  }

  test("grep: Catalyst predicate over extracted text") {
    val corpus = CorpusGen.corpus(spark, rows = 45, partitions = 3).cache()
    val expected = corpus.filter(col("url").contains("/multipage/")).count()
    val hits = Pipeline.extract(spark, CorpusGen.inputView(corpus))
      .toDF().filter(col("text").rlike("sentence that")).count()
    assert(expected > 0 && hits == expected)
  }

  test("resume: left-anti join drops done urls") {
    val corpus = CorpusGen.corpus(spark, rows = 45, partitions = 3).cache()
    val input = CorpusGen.inputView(corpus)
    val done = input.select("url").limit(20)
    val remaining = Pipeline.resumeRemaining(input, done)
    assert(remaining.count() == 25)
    // idempotent: resuming with everything done leaves nothing
    assert(Pipeline.resumeRemaining(input, input.select("url")).count() == 0)
  }

  test("partition metrics account for every document") {
    val corpus = CorpusGen.corpus(spark, rows = 90, partitions = 5)
    val extracted = Pipeline.extract(spark, CorpusGen.inputView(corpus))
    val m = Pipeline.partitionMetrics(spark, extracted).toDF()
      .agg(sum("docs"), sum("okDocs"), sum("errorDocs")).collect()(0)
    assert(m.getLong(0) == 90)
    assert(m.getLong(1) == 90)
    assert(m.getLong(2) == 0)
  }

  test("observed decode counters ride the caller's action (observe metrics)") {
    val s = spark
    import s.implicits._
    // 2 good docs + 2 decode failures: the observation must report them
    // without any extra job beyond the caller's own action
    val rows = Seq(
      ("u1", "<html><p>alpha beta</p></html>".getBytes, null: String),
      ("u2", "%PDF-1.5 garbage".getBytes, null: String),
      ("u3", Array.fill(64)(0x7f.toByte), null: String),
      ("u4", "<html><p>gamma</p></html>".getBytes, null: String))
    val (observed, obs) = Pipeline.observeExtraction(
      Pipeline.extract(spark, rows.toDF("url", "html", "text")))
    val collected = observed.collect()
    val m = obs.get
    assert(m("docs") == 4L, m)
    assert(m("ok_docs") == 2L, m)
    assert(m("decode_failures") == 2L, m)
    assert(m("chars") == collected.map(_.chars.toLong).sum, m)
    assert(m("kernel_micros").asInstanceOf[Long] > 0L, m)
  }

  test("ExtractJob prints the observed totals of the rows it wrote") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("extractjob").toString
    val bad = Seq(("https://bad.test/1", "%PDF-1.5 garbage".getBytes, null: String),
      ("https://bad.test/2", Array.fill(64)(0x7f.toByte), null: String)).toDF("url", "html", "text")
    CorpusGen.inputView(CorpusGen.corpus(spark, rows = 16, partitions = 2, heavy = true))
      .select("url", "html", "text").unionByName(bad)
      .write.parquet(s"$dir/in")
    // one JSON summary line per run; ExtractJob.main stops the session it
    // shares with this suite, and a missing observation must fail, not hang
    def summary(): String = {
      val printed = new java.io.ByteArrayOutputStream
      val run = scala.concurrent.Future(Console.withOut(printed) {
        ExtractJob.main(Array(s"$dir/in", s"$dir/out", "tagged"))
      })(scala.concurrent.ExecutionContext.global)
      try scala.concurrent.Await.result(run, scala.concurrent.duration.Duration(5, "min"))
      finally spark = newSession()
      val lines = printed.toString.linesIterator.filter(_.startsWith("{\"job\"")).toList
      assert(lines.length == 1, printed.toString)
      lines.head
    }
    val first = summary()
    val written = spark.read.parquet(s"$dir/out/extracted")
    val docs = written.count()
    val ok = written.filter(col("ok")).count()
    assert(docs == 18 && ok == 16)
    assert(first == s"""{"job":"extract","mode":"tagged","docs":$docs,"ok":$ok,"errors":${docs - ok}}""")
    // a rerun resumes with nothing left to do and still reports its totals
    assert(summary() == """{"job":"extract","mode":"tagged","docs":0,"ok":0,"errors":0}""")
  }

  test("inParallel returns the caller arm's value and keeps both arms' errors") {
    import graft.spark.Queries.inParallel
    @volatile var ran = false
    assert(inParallel({ ran = true }, 42) == 42 && ran)
    val child = new IllegalStateException("child")
    val caller = intercept[IllegalArgumentException] {
      inParallel(throw child, throw new IllegalArgumentException("caller"))
    }
    assert(caller.getSuppressed.toList == List(child))
    assert(intercept[IllegalStateException](inParallel(throw child, 1)) eq child)
  }

  test("malformed payloads become error rows, not task failures") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("u1", "%PDF-1.5 garbage".getBytes, null: String),
      ("u2", Array.fill(64)(0x7f.toByte), null: String),
      ("u3", "<html><p>fine</p></html>".getBytes, null: String))
    val df = rows.toDF("url", "html", "text")
    val out = Pipeline.extract(spark, df).collect()
    assert(out.length == 3)
    val byUrl = out.map(d => d.url -> d).toMap
    assert(!byUrl("u1").ok && byUrl("u1").error.nonEmpty)
    assert(!byUrl("u2").ok)
    assert(byUrl("u3").ok && byUrl("u3").text.contains("fine"))
  }

  test("page-level and metadata surfaces") {
    val corpus = CorpusGen.corpus(spark, rows = 18, partitions = 2).cache()
    val pages = Pipeline.extractPages(spark, CorpusGen.inputView(corpus)).toDF()
    // multipage docs contribute 4 pages each
    val mp = pages.filter(col("url").contains("/multipage/")).groupBy("url").count().collect()
    assert(mp.forall(_.getLong(1) == 4))
    val meta = Pipeline.extractMeta(spark, CorpusGen.inputView(corpus)).toDF()
    val pageCounts = meta.select("url", "pages").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(pageCounts.filter(_._1.contains("/multipage/")).values.forall(_ == 4))
    assert(pageCounts.filter(_._1.contains("/classic/")).values.forall(_ == 1))
  }

  test("reference golden fixtures are byte-identical through the Spark pipeline") {
    CorpusGen.referenceCorpus(spark, rows = 60, partitions = 4) match {
      case None => cancel("reference fixtures not available")
      case Some(corpus) =>
        val cached = corpus.cache()
        val joined = Pipeline.extract(spark, CorpusGen.inputView(cached)).toDF()
          .join(cached.select("url", "expected", "kind"), Seq("url"))
        val total = joined.count()
        val matched = joined.filter(col("text") === col("expected")).count()
        assert(total == 60)
        assert(matched == total, {
          val bad = joined.filter(col("text") =!= col("expected"))
            .select("kind").distinct().collect().mkString(",")
          s"mismatching fixtures: $bad"
        })
    }
  }

  test("oversized payloads are counted, not parsed") {
    val d = Pipeline.extractRowMode("u", new Array[Byte](2048), null, "tagged", maxPayloadBytes = 1024)
    assert(!d.ok && d.error == "payload too large" && d.mode == "error")
  }

  test("salted repartition produces identical results") {
    val corpus = CorpusGen.corpus(spark, rows = 33, partitions = 2).cache()
    val plain = Pipeline.extract(spark, CorpusGen.inputView(corpus))
      .toDF().select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val salted = Pipeline.extract(spark, CorpusGen.inputView(corpus), saltPartitions = 7)
      .toDF().select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plain == salted)
  }

  test("size-weighted repartition: giants land in distinct slots, results identical") {
    import org.apache.spark.sql.functions._
    // 60 rows with a giant every 10 -> 6 giants, 6 slots -> exactly 1 each
    val corpus = CorpusGen.heavyTailCorpus(spark, rows = 60, partitions = 4,
      giantEvery = 10, giantPages = 400).cache()
    val input = CorpusGen.inputView(corpus).select("url", "html", "text")
    val thresh = 50000L
    val giants = input.filter(length(col("html")) > thresh).count()
    assert(giants == 6, s"expected 6 giants, corpus produced $giants")
    val re = Pipeline.sizeWeightedRepartition(input, smallPartitions = 4,
      giantSlots = 6, giantThresholdBytes = thresh)
    val perPartition = re
      .select(spark_partition_id().as("pid"), (length(col("html")) > thresh).as("giant"))
      .filter(col("giant"))
      .groupBy("pid").count().collect()
    assert(perPartition.length == 6, perPartition.mkString(","))
    assert(perPartition.forall(_.getLong(1) == 1L),
      "a slot holds >1 giant: " + perPartition.mkString(","))
    // row set is preserved and extraction results are unchanged
    assert(re.count() == 60)
    val plain = Pipeline.extract(spark, input)
      .toDF().select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val weighted = Pipeline.extract(spark, re)
      .toDF().select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plain == weighted)
    // bounded-rank fallback: with maxRankedGiants < giant count, the
    // overflow giants take uniform hash slots — nothing is lost and the
    // top-ranked giants still round-robin exactly
    val re2 = Pipeline.sizeWeightedRepartition(input, smallPartitions = 4,
      giantSlots = 6, giantThresholdBytes = thresh, maxRankedGiants = 3)
    assert(re2.count() == 60)
    val giantRows2 = re2.filter(length(col("html")) > thresh).count()
    assert(giantRows2 == 6, s"giants lost in fallback path: $giantRows2")
  }

  test("chunked giant extraction is byte-identical to the row-parallel geom path") {
    import org.apache.spark.sql.functions._
    // books are 24 pages: threshold 10 forces chunking (chunk size floors
    // at threshold/2 = 5 -> 5 chunks per book); light kinds (1-4 pages)
    // take the ordinary path
    val corpus = CorpusGen.corpus(spark, rows = 30, partitions = 3, heavy = true).cache()
    val input = CorpusGen.inputView(corpus)
    val chunked = Pipeline.extractGeomChunked(spark, input, maxChunksPerDoc = 32,
      giantThresholdPages = 10)
      .toDF().select("url", "text", "mode", "ok", "pages").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getBoolean(3), r.getInt(4)))
      .toMap
    val plain = Pipeline.extractMode(spark, input, "geom")
      .toDF().select("url", "text", "mode", "ok", "pages").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getBoolean(3), r.getInt(4)))
      .toMap
    assert(chunked.keySet == plain.keySet)
    for ((url, p) <- plain) assert(chunked(url) == p, url)
    // the giant path really ran: books are over the page threshold
    assert(corpus.filter(col("pages") > 10).count() >= 10)
  }

  test("column pruning reaches the scan") {
    val corpus = CorpusGen.corpus(spark, rows = 9, partitions = 1)
    val dir = java.nio.file.Files.createTempDirectory("corpus").toString
    corpus.write.mode("overwrite").parquet(dir)
    val input = spark.read.parquet(dir)
    val plan = Pipeline.extract(spark, input).queryExecution.executedPlan.toString
    // the parquet scan must read only the three needed columns
    assert(plan.contains("ReadSchema"))
    assert(!plan.split("ReadSchema")(1).takeWhile(_ != '>').contains("warc_ts"))
  }
}
