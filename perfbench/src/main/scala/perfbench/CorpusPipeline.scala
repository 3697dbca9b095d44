package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.ops.{Bpe, Dedup, TextAnalysis}

object CorpusPipeline {
  val Docs = 1000
  val Vocab = 4000
  val ShortFrac = 0.05
  val ExactFrac = 0.10
  val NearFrac = 0.10
  val Merges = 30
  /** Near-duplicates are edited copies of base documents this long or
    * longer: one changed word then leaves a word-5-shingle Jaccard of at
    * least (n − 9) ÷ (n + 1) = 0.90, far above `minhashDedup`'s 0.7
    * threshold. With 60-word originals a planted pair with Jaccard 0.85
    * once went undetected (seed 302, 1 000 docs), which fits the error of
    * a 64-hash estimate that close to the threshold; the exact survivor
    * check would count such a miss as a failure. */
  val NearMinWords = 100

  /** A seeded corpus: base documents of 60–160 Zipf-drawn words; short
    * documents (10–40 words) the Gopher word-count rule drops; exact
    * copies and one-word-edited copies of distinct base documents, at
    * ids above every base id so the original is the min-id survivor. */
  final case class Corpus(docs: Seq[(Long, String)], short: Set[Long], exact: Set[Long],
                          near: Set[Long])

  def corpus(seed: Long): Corpus = {
    val rnd = new scala.util.Random(seed)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < Vocab)
        seen += (0 until 2 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      seen.toArray
    }
    val zipf = new EntityOltp.Zipf(Vocab, rnd)
    def words(n: Int): Array[String] = Array.fill(n)(vocab(zipf.next() - 1))
    val nShort = (Docs * ShortFrac).toInt
    val nExact = (Docs * ExactFrac).toInt
    val nNear = (Docs * NearFrac).toInt
    val nBase = Docs - nShort - nExact - nNear
    val base = Array.fill(nBase)(words(60 + rnd.nextInt(101)))
    val order = rnd.shuffle((0 until nBase).toVector)
    val originals = order.take(nExact) ++
      order.drop(nExact).filter(base(_).length >= NearMinWords).take(nNear)
    val extra: Seq[(String, String)] =
      (0 until nShort).map(_ => "short" -> words(10 + rnd.nextInt(31)).mkString(" ")) ++
      originals.take(nExact).map(o => "exact" -> base(o).mkString(" ")) ++
      originals.drop(nExact).map { o =>
        val w = base(o).clone()
        val i = rnd.nextInt(w.length)
        var r = w(i)
        while (r == w(i)) r = vocab(rnd.nextInt(Vocab))
        w(i) = r
        "near" -> w.mkString(" ")
      }
    val placed = rnd.shuffle(extra).zipWithIndex.map { case ((k, t), i) => (k, (nBase + 1L + i, t)) }
    def idsOf(kind: String) = placed.filter(_._1 == kind).map(_._2._1).toSet
    Corpus(base.zipWithIndex.map { case (w, i) => (i + 1L, w.mkString(" ")) }.toSeq ++ placed.map(_._2),
      idsOf("short"), idsOf("exact"), idsOf("near"))
  }
}

/** Batch curation over a seeded corpus: Gopher word-count filter →
  * exact dedup → MinHash near-dup dedup → BPE vocabulary learning →
  * BPE encoding into a no-op sink. Each stage's output is materialized
  * inside its own span, so stage times and jobs are separable. */
final class CorpusPipeline extends Workload {
  import CorpusPipeline._

  def run(ctx: Ctx): Unit = {
    import ctx._
    val spark = ctx.spark
    import spark.implicits._
    val c = corpus(seed)
    val all = c.docs.map(_._1).toSet
    val wantKept = all -- c.short
    val wantExact = wantKept -- c.exact
    val wantNear = wantExact -- c.near

    var path = ""
    for (_ <- 0 until setupReps) timeSetup {
      path = freshDir("corpus_") + "/docs.parquet"
      spark.createDataset(c.docs).toDF("doc_id", "text").repartition(nproc).write.parquet(path)
    }
    Log.note("corpus written")

    var reference: Option[Seq[Bpe.Merge]] = None
    def stage(name: String, df: DataFrame): DataFrame = tracer.span(name) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

    /** One checked pass of the pipeline; returns its wall time in ms. */
    def pass(): Double = {
      val t0 = System.nanoTime()
      val (kept, exact, near, merges) = tracer.span("op.pass") {
        val docs = spark.read.parquet(path)
        val kept = stage("ops.quality",
          docs.filter(TextAnalysis.gopherRules(col("text")).getField("r_word_count")))
        val exact = stage("ops.exact_dedup", Dedup.exactDedup(kept, "doc_id", "text"))
        val near = stage("ops.minhash_dedup", Dedup.minhashDedup(exact, "doc_id", "text"))
        val merges = tracer.span("ops.bpe_learn")(Bpe.learnMerges(Bpe.wordFreq(near, "text"), Merges))
        tracer.span("ops.bpe_encode")(Bpe.encode(near, "text", merges, "doc_id")
          .write.format("noop").mode("overwrite").save())
        (kept, exact, near, merges)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      def survivors(stage: String, df: DataFrame, want: Set[Long]): Unit = {
        val got = df.select("doc_id").as[Long].collect().toSet
        rec.check(got == want, s"$stage kept ${got.size} docs, expected ${want.size}; " +
          s"extra ids ${(got -- want).toSeq.sorted.take(5)}, missing ids ${(want -- got).toSeq.sorted.take(5)}")
      }
      survivors("quality filter", kept, wantKept)
      survivors("exact dedup", exact, wantExact)
      survivors("minhash dedup", near, wantNear)
      val ref = reference.getOrElse {
        val dict = Bpe.wordFreq(near, "text").select("word", "wcount").as[(String, Long)].collect().toSeq
        val r = Bpe.referenceLearn(dict, Merges)
        reference = Some(r)
        r
      }
      rec.check(merges == ref, s"learned merges differ from Bpe.referenceLearn (${merges.size} vs ${ref.size})")
      if (tracer.active && !rec.counters.contains("minhash_candidates")) {
        // candidate pairs against confirmed pairs; an extra call, billed to no span
        rec.counters("minhash_candidates") = Dedup.minhashCandidates(exact, "doc_id", "text").count()
        rec.counters("minhash_pairs") = Dedup.minhashPairs(exact, "doc_id", "text").count()
      }
      Seq(kept, exact, near).foreach(_.unpersist(blocking = true))
      ms
    }

    // A traced run takes the tracing overhead between passes, so it first
    // runs one checked, untimed pass to keep JIT warm-up out of it (a
    // smaller pass would cost about as much: the time is per-job driver
    // work). An untraced run skips it to keep the run short; its bounded
    // metrics (set-up, retained heap, checks) do not depend on it.
    if (tracer.enabled) pass()
    Log.note("warm-up pass done")
    rec.startMeasuring(clock.nowMs)
    val deadline = rec.measureStartMs + seconds * 1000.0
    // a traced run needs an untraced and a traced pass for the overhead
    while (clock.nowMs < deadline || (tracer.enabled && rec.ops < 2)) {
      tracer.setActive(rec.ops % 2 == 1)
      val start = clock.nowMs
      val ms = pass()
      rec.sample("pass", start, ms)
      if (tracer.enabled) rec.sample(tracer.tagged("pass"), start, ms)
      rec.ops += 1
    }
    rec.endMeasuring(clock.nowMs)
    tracer.setActive(true)
    recordLiveHeap()
    rec.counters("docs") = Docs
    rec.counters("merges") = Merges
    rec.spans = tracer.spans
  }
}
