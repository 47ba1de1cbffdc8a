package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.text.{Bpe, CorpusPipeline, WordPiece}

/** The corpus path: quality + langid filter → near-duplicate clustering →
  * split (`CorpusPipeline.e2eBuild`), then WordPiece and BPE tokenization
  * of the corpus. A tokenizer request WordPiece-encodes a small batch of
  * documents against the vocabulary learned during set-up.
  *
  * Output checks: the last pass's three outputs and the DuckDB mirrors of
  * the same functions ([[oracle]]) go to the runner, which compares them
  * outside the timed region; each tokenizer request must equal the pass's
  * encoding of the same documents. */
class Corpus(spec: Gen.CorpusSpec) extends Workload {
  val Threshold = 0.5
  val MaxShingleDF = 12L
  val BpeRounds = 8
  val RequestDocs = 16

  private var in: Gen.CorpusInput = _
  private var docs: DataFrame = _
  private var vocab: DataFrame = _

  def setup(c: Ctx): Unit = {
    in = Gen.corpus(c.seed, spec)
    val path = s"${c.work}/corpus/documents.parquet"
    c.spark.createDataFrame(in.rows.asJava, Gen.docSchema).coalesce(c.slots)
      .write.mode("overwrite").parquet(path)
    docs = c.spark.read.parquet(path)
    // a tokenizer service holds its vocabulary in memory
    val v = WordPiece.buildVocab(docs).collect()
    vocab = c.spark.createDataFrame(v.toSeq.asJava, v.head.schema)
    // warm-up on a quarter of the corpus with two BPE rounds: the same code
    // paths at a fraction of the jobs
    val spans = new Spans(c.spark, None)
    pass(c, spans, docs.filter(col("doc_id") < in.rows.length / 4), s"${c.work}/corpus/warmup",
      bpeRounds = 2)
    in.rows.map(_.getLong(0)).grouped(RequestDocs).take(3).foreach(request(spans, _, -1))
  }

  private def pass(c: Ctx, spans: Spans, docs: DataFrame, dir: String,
      bpeRounds: Int = BpeRounds): Double = {
    val t0 = System.nanoTime()
    spans.run("text.e2e_build", parent = "text.pass") {
      CorpusPipeline.e2eBuild(docs, Threshold, MaxShingleDF)
    }(_.write.mode("overwrite").parquet(s"$dir/e2e_build"))
    spans.run("text.wordpiece", parent = "text.pass") {
      WordPiece.encode(docs)
    }(_.write.mode("overwrite").parquet(s"$dir/wordpiece"))
    spans.run("text.bpe", parent = "text.pass") {
      Bpe.trainAndEncode(docs, bpeRounds)
    }(_.write.mode("overwrite").parquet(s"$dir/bpe"))
    (System.nanoTime() - t0) / 1e9
  }

  /** One tokenizer request over `ids`. */
  private def request(spans: Spans, ids: Seq[Long], i: Int): Set[Row] =
    spans.run("text.serve", "text.serve", i) {
      WordPiece.encodeWithVocab(docs.filter(col("doc_id").isin(ids: _*)), vocab)
    }(_.collect().toSet)._1

  def measure(c: Ctx, spans: Spans, requests: Boolean): Measured = {
    val dir = s"${c.work}/corpus/out"
    // fixed work per run, so runs compare: one pass per 10 s, 3 requests
    // per s and at least 20, the fewest whose median is reportable
    val passes = (1 to math.max(1, (c.seconds / 10).round.toInt)).map(_ => pass(c, spans, docs, dir))
    val rnd = new Random(c.seed ^ 0xc0de)
    val allIds = in.rows.map(_.getLong(0))
    val asked = ArrayBuffer.empty[(Seq[Long], Set[Row])]
    val lat = ArrayBuffer.empty[Double]
    for (_ <- 1 to (if (requests) math.max(20, (3 * c.seconds).round.toInt) else 0)) {
      val ids = Seq.fill(RequestDocs)(allIds(rnd.nextInt(allIds.length))).distinct
      val t0 = System.nanoTime()
      c.checks.op("text.serve") {
        asked += ((ids, request(spans, ids, lat.length)))
        ((), Nil)
      }
      lat += (System.nanoTime() - t0) / 1e6
    }
    // outside the timed region: every request must equal the pass output
    val all = c.spark.read.parquet(s"$dir/wordpiece").collect()
    asked.foreach { case (ids, got) => c.checks.record("text.serve(check)", checkRequest(ids, got, all)) }
    Measured(passes, lat.toSeq)
  }

  private def checkRequest(ids: Seq[Long], got: Set[Row], all: Array[Row]): Seq[String] = {
    val want = ids.toSet
    Expect.eq("tokenizer request", got, all.filter(r => want(r.getLong(0))).toSet)
  }

  /** SQL mirrors of the pass's three outputs, keyed by output directory. */
  def oracle: Map[String, String] = Map(
    "e2e_build" -> CorpusPipeline.e2eBuildSql(Threshold, MaxShingleDF),
    "wordpiece" -> WordPiece.encodeSql(),
    "bpe" -> Bpe.trainAndEncodeSql(BpeRounds))

  def checkersCatchCorruption(c: Ctx): Seq[String] = {
    val a = Row(1L, 2L, 3L, 0L, "x")
    val b = Row(2L, 2L, 3L, 0L, "y")
    val bad = checkRequest(Seq(1L, 2L), Set(a), Array(a, b))
    if (bad.isEmpty) Seq("corpus request checker") else Nil
  }

  def determinism(c: Ctx): Seq[String] = {
    val again = Gen.corpus(c.seed, spec).digest
    val other = Gen.corpus(c.seed + 1, spec).digest
    Expect(again == in.digest, "corpus generator: same seed, other bytes") ++
      Expect(other != in.digest, "corpus generator: other seed, same bytes")
  }
}
