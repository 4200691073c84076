package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Pins [[BpeTrainer]] against an independent in-memory reference BPE
  * implementation (the textbook algorithm: count adjacent pairs over the
  * word-frequency table, merge the most frequent left-to-right
  * non-overlapping, repeat), on the classic low/lower/newest/widest
  * corpus. Ties break (count DESC, left ASC, right ASC) in both. q198's
  * pooled fertility agrees with q100's per-doc encode. */
class BpeTrainerSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation, no Spark. */
  private def referenceBpe(wordFreq: Map[String, Long],
      nMerges: Int, minCount: Long): Seq[(String, String)] = {
    var words: Map[Vector[String], Long] =
      wordFreq.map { case (w, f) => w.map(_.toString).toVector -> f }
    val out = Seq.newBuilder[(String, String)]
    var done = false
    var it = 0
    while (it < nMerges && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      if (counts.isEmpty || counts.values.max < minCount) done = true
      else {
        val (pair, _) = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head
        out += pair
        words = words.map { case (syms, f) =>
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == pair._1 &&
              syms(i + 1) == pair._2) {
              merged += (pair._1 + pair._2); i += 2
            } else { merged += syms(i); i += 1 }
          }
          merged.result() -> f
        }.groupMapReduce(_._1)(_._2)(_ + _)
        it += 1
      }
    }
    out.result()
  }

  private val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
    Seq.fill(6)("newest") ++ Seq.fill(3)("widest")

  test("train() learns the reference merge sequence on the classic corpus") {
    val docs = Seq(corpus.mkString(" ")).toDF("text")
    val got = BpeTrainer.train(docs, nMerges = 10).merges
    val want = referenceBpe(
      corpus.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong },
      nMerges = 10, minCount = 2L)
    assert(got == want, s"got $got\nwant $want")
    assert(got.nonEmpty && got.size <= 10)
  }

  test("tokenize() applies the merge table: training words re-segment to their final symbols") {
    val docs = Seq(corpus.mkString(" ")).toDF("text")
    val table = BpeTrainer.train(docs, nMerges = 30, minCount = 2L)
    // "newest" (freq 6) should compress into few symbols; an unseen word
    // falls back toward characters; 1-char words pass through
    val toks = Seq("newest", "lowest", "x")
      .toDF("w").select(BpeTrainer.tokenize(col("w"), table).as("syms"))
      .collect().map(_.getSeq[String](0).toList)
    assert(toks(0).mkString == "newest", "segmentation must be lossless")
    assert(toks(0).size < 6, s"trained word must compress: ${toks(0)}")
    assert(toks(1).mkString == "lowest")
    assert(toks(2) == List("x"))
    // empty word → empty symbols, not two phantom "" (ANSI sequence(1,0)
    // descends — the charsOf guard)
    val empty = Seq("").toDF("w")
      .select(BpeTrainer.tokenize(col("w"), table).as("syms"))
      .collect().head.getSeq[String](0).toList
    assert(empty == Nil, s"got $empty")
    // greedy left-to-right non-overlap: a run of a repeated pair merges
    // pairwise from the left
    val run = Seq("aaaa").toDF("w")
      .select(call_function("bpe_merge_pair",
        BpeTrainer.tokenize(col("w"), BpeTrainer.MergeTable(Nil)),
        lit("a"), lit("a")).as("syms"))
      .collect().head.getSeq[String](0).toList
    assert(run == List("aa", "aa"), s"got $run")
  }

  test("tokenizeViaDictionary ≡ folding tokenize over every word in place") {
    // repeated words (dictionary collapse must not change multiplicity),
    // a double space (empty token → zero symbols), a 1-char word, an
    // unseen word, and a null text (dropped on both paths)
    val docs = Seq(
      (0L, corpus.mkString(" ")),
      (1L, "low lower  x lowest"),
      (2L, "newest widest newest"),
      (3L, ""),
      (4L, null)).toDF("doc_id", "text")
    val table = BpeTrainer.train(docs, 12)
    assert(table.merges.size >= 4, s"corpus must train real merges: $table")
    def collectBpe(df: org.apache.spark.sql.DataFrame): Map[Long, List[String]] =
      df.collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getSeq[String](1).toList).toMap
    // batch = 3 forces multiple checkpointed generations; 64 covers the
    // single-generation path — both must equal the plain per-word fold
    val direct = collectBpe(docs
      .select(col("doc_id"), posexplode(graft.functions.TextFunctions
        .tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        BpeTrainer.tokenize(col("tok"), table).as("syms"))
      .groupBy("doc_id")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(pos, syms))), s -> s.syms))")
        .as("bpe")))
    for (batch <- Seq(3, 64)) {
      val viaDict = collectBpe(
        BpeTrainer.tokenizeViaDictionary(docs, table, batch = batch))
      assert(viaDict == direct, s"batch=$batch:\ngot  $viaDict\nwant $direct")
    }
    // segmentation is lossless: concatenating a doc's symbols restores its
    // space-stripped text
    val doc0 = direct(0L).mkString
    assert(doc0 == corpus.mkString(" ").replace(" ", ""))
    assert(!direct.contains(4L), "null text must be dropped")
  }

  test("trainBatched learns the sequential merge table exactly (classic corpus)") {
    val docs = Seq(corpus.mkString(" ")).toDF("text")
    val want = BpeTrainer.train(docs, nMerges = 30).merges
    for (maxBatch <- Seq(1, 4, 64)) {
      val (got, sizes) = BpeTrainer.trainBatchedWithStats(
        docs, nMerges = 30, maxBatch = maxBatch)
      assert(got.merges == want, s"maxBatch=$maxBatch:\ngot  ${got.merges}\nwant $want")
      assert(sizes.sum == got.merges.size)
      if (maxBatch == 1)
        assert(sizes.forall(_ == 1), "maxBatch=1 must degrade to sequential")
    }
    // with real batching the pass count must actually drop
    val (_, sizes64) = BpeTrainer.trainBatchedWithStats(docs, 30, maxBatch = 64)
    assert(sizes64.length < want.size,
      s"expected fewer passes than merges, got ${sizes64.length} passes " +
        s"for ${want.size} merges (sizes $sizes64)")
  }

  test("trainBatched ≡ the sequential reference on randomized corpora (incl. tight topN cutoff)") {
    // adversarial shapes on a tiny alphabet: long single-char runs
    // (overlapping-merge semantics), heavy ties, product strings that
    // collide with pre-existing symbols ("aa" exists before (a,a) merges)
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abc"
      val words = (1 to 40).map { _ =>
        val len = 2 + rnd.nextInt(7)
        val w = (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length)))
          .mkString
        w -> (1L + rnd.nextInt(9))
      }.groupMapReduce(_._1)(_._2)(_ + _)
      val text = words.toSeq.sortBy(_._1)
        .flatMap { case (w, f) => Seq.fill(f.toInt)(w) }.mkString(" ")
      val docs = Seq(text).toDF("text")
      val want = referenceBpe(words, nMerges = 15, minCount = 2L)
      for (topN <- Seq(16, 8192)) {
        val got = BpeTrainer.trainBatched(docs, nMerges = 15,
          maxBatch = 8, topN = topN).merges
        assert(got == want,
          s"seed=$seed topN=$topN:\ngot  $got\nwant $want")
      }
    }
  }

  test("approximate batching: deterministic, full table, far fewer passes") {
    val docs = Seq(corpus.mkString(" ")).toDF("text")
    val (exactT, exactSizes) =
      BpeTrainer.trainBatchedWithStats(docs, 20, maxBatch = 8)
    val (a1, s1) = BpeTrainer.trainBatchedWithStats(docs, 20,
      maxBatch = 8, exact = false)
    val (a2, _) = BpeTrainer.trainBatchedWithStats(docs, 20,
      maxBatch = 8, exact = false)
    assert(a1.merges == a2.merges, "approximate mode must be deterministic")
    assert(a1.merges.size == exactT.merges.size,
      "same trainable-merge budget on this corpus")
    assert(s1.length < exactSizes.length,
      s"skip-interactors must need fewer passes: approx ${s1.length} vs " +
        s"exact ${exactSizes.length}")
    // a table learned approximately still segments losslessly
    val seg = Seq("newest").toDF("w")
      .select(BpeTrainer.tokenize(col("w"), a1).as("syms"))
      .collect().head.getSeq[String](0)
    assert(seg.mkString == "newest")
  }

  test("training is deterministic across runs") {
    val docs = Seq(corpus.mkString(" ")).toDF("text")
    val a = BpeTrainer.train(docs, 8).merges
    val b = BpeTrainer.train(docs, 8).merges
    assert(a == b)
  }

  test("q198: pooled fertility is consistent with q100's per-doc encode") {
    val rep = SparkEntry.queries("q198_tokenizer_fertility")(spark, sfDir).collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      val words = r.getAs[Long]("sum_words")
      val pieces = r.getAs[Long]("sum_pieces")
      val chars = r.getAs[Long]("sum_chars")
      // merges only ever SHRINK the char-split, never below 1 piece/word
      assert(pieces >= words, s"${r.getAs[String]("lang")}: fertility >= 1")
      assert(chars >= pieces)
      assert(r.getAs[Double]("fertility") ==
        pieces.toDouble / words)
      assert(r.getAs[Double]("chars_per_piece") ==
        chars.toDouble / pieces)
    }
    // total pieces agree with the q100 per-doc encode
    val totalPieces = rep.map(_.getAs[Long]("sum_pieces")).sum
    val q100Total = SparkEntry.queries("q100_bpe_encode")(spark, sfDir)
      .agg(sum(col("n_bpe"))).collect().head.getLong(0)
    assert(totalPieces == q100Total)
  }
}
