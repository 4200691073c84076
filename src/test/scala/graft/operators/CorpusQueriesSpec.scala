package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions.{array_distinct, col, lower, md5, size, split, sum}

/** Pins the semantics of the corpus-hygiene queries (q71–q73) on
  * constructed fixtures: exact repetition fractions, span island merging
  * vs splitting, and each pipeline stage's drop reason. The corpus audits
  * q195–q197 and q201 are recounted on the driver over the test tables.
  */
class CorpusQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: (Long, String)*): String = corpusSrc(
    rows.map { case (id, t) => (id, t, "srcA") }: _*)

  private def corpusSrc(rows: (Long, String, String)*): String = {
    val dir = tmpDir("corpus")
    rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q71: exact n-gram repetition fractions") {
    val dir = corpus(
      (1L, "a b a b a"), // g2 = [ab, ba, ab, ba]: 4 total / 2 distinct
      (2L, "x y z"),     // g2 = [xy, yz] distinct; g3 = [xyz]
      (3L, "q"))         // no 2-grams at all
    val rows = SparkEntry.queries("q71_text_repetition")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_2grams"), r.getAs[Double]("dup_2gram_frac"),
          r.getAs[Double]("dup_3gram_frac"), r.getAs[Double]("top_2gram_frac"))))
      .toMap
    assert(rows(1L) == ((4L, 0.5, 1.0 - 2.0 / 3.0, 0.5)))
    assert(rows(2L) == ((2L, 0.0, 0.0, 0.5)))
    assert(rows(3L) == ((0L, 0.0, 0.0, 0.0)))
  }

  test("q72: covered windows merge when ≤ k apart, split on larger gaps") {
    // doc 1 repeats doc 2's opening 5 tokens at positions 1..5 AND doc 3's
    // 5 tokens at 12..16; the covered starts {1, 12} are 11 apart → 2 spans.
    // doc 4 = two shared 5-blocks back-to-back (starts {1, 6}, exactly k
    // apart) → merged into ONE 10-token span.
    val dir = corpus(
      (1L, "a1 a2 a3 a4 a5 f1 f2 f3 f4 f5 f6 c1 c2 c3 c4 c5"),
      (2L, "a1 a2 a3 a4 a5 g1 g2 g3 g4 g5"),
      (3L, "h1 h2 h3 h4 h5 c1 c2 c3 c4 c5"),
      (4L, "d1 d2 d3 d4 d5 e1 e2 e3 e4 e5"),
      (5L, "d1 d2 d3 d4 d5 i1 i2 i3 i4 i5"),
      (6L, "j1 j2 j3 j4 j5 e1 e2 e3 e4 e5"))
    val rows = SparkEntry.queries("q72_dedup_spans")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("covered_tokens"),
          r.getAs[Double]("span_frac"))))
      .toMap
    assert(rows(1L) == ((2L, 10L, 10.0 / 16.0)))
    assert(rows(4L) == ((1L, 10L, 1.0)))
    // the single-block sharers each get one 5-token span
    assert(rows(2L) == ((1L, 5L, 0.5)) && rows(3L) == ((1L, 5L, 0.5)))
  }

  test("q72: random corpora match a brute-force span reference (seeded)") {
    // independent reference implementation: covered position = 5-shingle
    // occurring in ANOTHER doc; islands merge while starts are ≤5 apart
    def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Double)] = {
      val toks = docs.map { case (id, t) => id -> t.toLowerCase.split(" ", -1).toSeq }.toMap
      val shingleDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
      for ((id, ts) <- toks; i <- 0 to ts.length - 5) {
        val sh = ts.slice(i, i + 5).mkString(" ")
        shingleDocs(sh) = shingleDocs.getOrElse(sh, Set.empty) + id
      }
      toks.flatMap { case (id, ts) =>
        val covered = (0 to ts.length - 5).filter { i =>
          (shingleDocs(ts.slice(i, i + 5).mkString(" ")) - id).nonEmpty
        }.map(_ + 1) // 1-based
        if (covered.isEmpty) None else {
          // island break exactly when successive starts are > 5 apart
          // (mirrors the query's lag-based brk); span = [first, last + 4]
          val islands = covered.foldLeft(List.empty[List[Int]]) {
            case (Nil, p) => List(List(p))
            case (cur :: rest, p) =>
              if (p - cur.head <= 5) (p :: cur) :: rest
              else List(p) :: cur :: rest
          }
          val total = islands.map(isl => (isl.head + 4) - isl.last + 1).sum
          Some(id -> ((islands.size.toLong, total.toLong,
            total.toDouble / ts.length)))
        }
      }
    }
    val vocab = Vector("a", "b", "c", "d", "e")
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 30L).map { id =>
        id -> Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val dir = corpus(docs: _*)
      val got = SparkEntry.queries("q72_dedup_spans")(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_spans"), r.getAs[Long]("covered_tokens"),
            r.getAs[Double]("span_frac")))).toMap
      val want = reference(docs)
      assert(got == want, s"seed=$seed diff: got=${got.toSeq.sorted.take(5)} want=${want.toSeq.sorted.take(5)}")
    }
  }

  test("q73: each stage drops its own failure mode") {
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    val dupText = s"$filler dup marker"
    val rows =
      // 16 good docs in srcA: the cap (15) must drop exactly one
      (1L to 16L).map(i => (i, s"$filler only$i", "srcA")) ++ Seq(
        (20L, "r r r r r r r r r r", "srcB"),  // uniq_ratio 1/10 → quality drop
        (21L, dupText, "srcB"),                 // exact-dup keeper (min id)
        (22L, dupText, "srcB"),                 // exact-dup loser
        (23L, s"$filler fine", "srcB"))
    val dir = corpusSrc(rows: _*)
    val out = SparkEntry.queries("q73_pipeline_clean")(spark, dir).collect()
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    assert(!ids.contains(20L), "low-uniqueness doc must fail the quality gate")
    assert(ids.contains(21L) && !ids.contains(22L),
      "exact-dup group keeps only the min doc_id")
    assert(ids.contains(23L))
    assert(out.count(_.getAs[String]("source") == "srcA") == 15,
      "per-domain cap must keep exactly 15 of 16")
    assert(out.forall(_.getAs[Long]("rk") <= 15L))
  }

  test("q75: greedy token budget keeps md5-rank prefix, at least one doc per source") {
    // srcA: three docs of 300 tokens each — budget 800 admits the first two
    // in md5 order (cum_before 0, 300) and stops at 600+300 ≥ 800 only when
    // cum_before ≥ 800 ... i.e. the third doc (cum_before 600) still enters.
    // srcB: one 2000-token doc — over budget alone, but cum_before = 0 < 800
    // keeps it: every non-empty source contributes.
    def doc(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val dir = corpusSrc(
      (1L, doc(300, "a"), "srcA"), (2L, doc(300, "b"), "srcA"),
      (3L, doc(300, "c"), "srcA"), (4L, doc(2000, "d"), "srcB"))
    val out = SparkEntry.queries("q75_mix_token_budget")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_before"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(4L) == ((2000L, 0L)), "first doc of a source always enters")
    assert(Set(out(1L)._2, out(2L)._2, out(3L)._2) == Set(0L, 300L, 600L),
      "running sum follows the deterministic md5 rank")
  }

  test("q75: docs past the budget are cut") {
    def doc(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val dir = corpusSrc((1 to 10).map(i => (i.toLong, doc(300, s"t${i}_"), "srcA")): _*)
    val rows = SparkEntry.queries("q75_mix_token_budget")(spark, dir).collect()
    assert(rows.length == 3, s"800-token budget over 300-token docs keeps 3: ${rows.length}")
    assert(rows.map(_.getAs[Long]("cum_before")).toSet == Set(0L, 300L, 600L))
  }

  test("q76: per-doc rarest token by document frequency, ties lexicographic") {
    val dir = corpus(
      (1L, "common rare1 common filler"), // rare1 df=1
      (2L, "common filler zeta alpha"),   // zeta/alpha df=1 → alpha wins tie
      (3L, "common filler"))              // no df=1 token → rarest is filler (df=3) vs common (df=3) → common
    val out = SparkEntry.queries("q76_text_rare_terms")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("rare_tok"), r.getAs[Long]("df_docs"))).toMap
    assert(out(1L) == (("rare1", 1L)))
    assert(out(2L) == (("alpha", 1L)))
    assert(out(3L) == (("common", 3L)), "df tie broken by token order")
  }

  test("q77: directional benchmark contamination with exact hit counts") {
    // src0 = benchmark. doc 10 embeds one 4-token benchmark window
    // ("b1 b2 b3 b4" at two positions → 2 hits of 7 shingles); doc 11 has
    // no overlap; doc 12 is a src0 doc (never reported, even though it
    // trivially matches the benchmark = itself)
    val dir = corpusSrc(
      (1L, "b1 b2 b3 b4 b5 b6", "src0"),
      (10L, "x1 x2 b1 b2 b3 b4 b5 x3 x4 x5", "srcB"),
      (11L, "y1 y2 y3 y4 y5 y6 y7", "srcB"),
      (12L, "b1 b2 b3 b4 z1 z2", "src0"))
    val out = SparkEntry.queries("q77_text_contamination")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_contaminated"), r.getAs[Double]("contam_frac"))))
      .toMap
    // doc 10: windows starting at b1 and b2 ("b1 b2 b3 b4", "b2 b3 b4 b5")
    // both appear in benchmark doc 1 → 2 hits over 7 shingles
    assert(out == Map(10L -> ((2L, 2.0 / 7.0))), s"got $out")
  }

  test("q78: report ratios are pooled over counts, not averaged doubles") {
    val dir = corpusSrc(
      (1L, "a b c d", "srcA"),                       // 4 tokens, 4 distinct
      (2L, "a a a a a a a a a a a a", "srcA"),       // 12 tokens, 1 distinct; fails gate
      (3L, "x y z", "srcB"),
      (4L, "q", "srcC"),          // single-token docs: Σ n_2grams = 0 —
      (5L, "r", "srcC"))          // the pooled denominator must be guarded
    val rows = SparkEntry.queries("q78_corpus_report")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = rows("srcA")
    assert(a.getAs[Long]("n_docs") == 2L && a.getAs[Long]("total_tokens") == 16L)
    // pooled: (4 + 1) / (4 + 12); a per-doc average would give (1.0 + 1/12)/2
    assert(a.getAs[Double]("pooled_uniq_ratio") == 5.0 / 16.0)
    assert(a.getAs[Double]("gate_fail_share") == 0.5)
    assert(rows("srcB").getAs[Double]("gate_fail_share") == 0.0)
    // ANSI mode: an unguarded x / Σ0 would throw DIVIDE_BY_ZERO here
    assert(rows("srcC").getAs[Double]("pooled_dup_2gram_frac") == 0.0)
  }

  test("q80: weight-1 docs always survive, degenerate docs almost never, and runs are identical") {
    val allDistinct = (1 to 20).map(i => s"u$i").mkString(" ")   // w = 1.0
    val degenerate = Seq.fill(50)("r").mkString(" ")             // w = 0.02
    val dir = corpus(
      (1L to 30L).map(i => (i, allDistinct)) ++
        (31L to 60L).map(i => (i, degenerate)): _*)
    val run1 = SparkEntry.queries("q80_sample_quality_weighted")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val run2 = SparkEntry.queries("q80_sample_quality_weighted")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(run1 == run2, "sampling must be deterministic across runs")
    assert((1L to 30L).toSet.subsetOf(run1), "w=1.0 docs must always survive")
    val degKept = run1.count(_ > 30L)
    assert(degKept <= 5, s"w=0.02 docs should almost never survive: kept $degKept")
  }

  test("q82: incremental dedup separates exact, near, in-batch dups and keepers") {
    // corpus = id % 4 != 0; batch = id % 4 == 0
    val dir = corpus(
      (1L, "a b c"),       // corpus
      (2L, "d e f"),       // corpus
      (4L, "a b c"),       // batch: identical text to doc 1 → exact + near
      (8L, "c b a"),       // batch: same bag as doc 1 (and batch doc 4!)
      (12L, "p q r"),      // batch: new fingerprint, min id → kept
      (16L, "p q r"),      // batch: same fp as 12, larger id → in-batch dup
      (20L, "z q"))        // batch: unique → kept
    val rows = SparkEntry.queries("q82_dedup_incremental")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("dup_exact"), r.getAs[Boolean]("dup_near"),
          r.getAs[Boolean]("dup_in_batch"), r.getAs[Boolean]("kept"))))
      .toMap
    assert(rows(4L) == ((true, true, false, false)))
    // near-dup of corpus doc 1 AND fp-tied with batch doc 4 (smaller id)
    assert(rows(8L) == ((false, true, true, false)))
    assert(rows(12L) == ((false, false, false, true)))
    assert(rows(16L) == ((false, false, true, false)))
    assert(rows(20L) == ((false, false, false, true)))
    assert(!rows.contains(1L) && !rows.contains(2L),
      "corpus docs must not appear in the batch verdicts")
  }

  test("q109: non-owner spans are cut, owners keep text, overlaps merge, full copies empty") {
    val dir = corpus(
      (1L, "a1 a2 a3 a4 a5 x1 x2 x3"),           // owner of its shingles
      (2L, "b1 b2 a1 a2 a3 a4 a5 b3"),           // copies d1's 5-block
      (3L, "a1 a2 a3 a4 a5 x1 x2 x3"),           // full copy of d1
      (4L, "e1 e2 e3 e4 e5 e6"),                 // owner
      (5L, "z1 e1 e2 e3 e4 e5 e6 z2"))           // two OVERLAPPING shared shingles
    val rows = SparkEntry.queries("q109_dedup_span_removal")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned_text")))).toMap
    assert(rows(1L) == ((8L, 0L, "a1 a2 a3 a4 a5 x1 x2 x3")),
      "the min-id owner keeps its copy untouched")
    assert(rows(2L) == ((8L, 5L, "b1 b2 b3")))
    assert(rows(3L) == ((8L, 8L, "")),
      "a fully-copied doc keeps its row with empty text")
    assert(rows(4L) == ((6L, 0L, "e1 e2 e3 e4 e5 e6")))
    assert(rows(5L) == ((8L, 6L, "z1 z2")),
      "overlapping shared shingles merge into one removed span")
  }

  test("q115: each Gopher rule fails for exactly its own defect, null text fails all") {
    val good = "the craft of data is a long road and " +
      (1 to 42).map(i => s"word$i").mkString(" ") // 50 words, prose-like
    val dir = tmpDir("gopher")
    Seq(
      (1L, good),
      (2L, "the of " + (1 to 10).map(_ => "x").mkString(" ")), // 12 words < 50
      (3L, good.replace("word", "supercalifragilistic-word")), // mean len > 10
      (4L, (1 to 50).map(_ => "123").mkString(" ")),           // no alpha (also no stop)
      (5L, good.replaceAll("\\b(the|of|is|a|and)\\b", "zz")),  // < 2 stopwords
      (6L, good.replaceAll("word", "#tag")),                   // > 10% symbol words
      (7L, null.asInstanceOf[String]))
      .map { case (id, t) =>
        (id, t, "en", "srcA", Option(t).map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q115_gopher_rules")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("r_wordcount"), r.getAs[Boolean]("r_meanlen"),
          r.getAs[Boolean]("r_alpha"), r.getAs[Boolean]("r_stop"),
          r.getAs[Boolean]("r_symbol"), r.getAs[Boolean]("kept")))).toMap
    assert(rows(1L) == ((true, true, true, true, true, true)))
    assert(!rows(2L)._1 && !rows(2L)._6)
    assert(!rows(3L)._2 && !rows(3L)._6)
    assert(!rows(4L)._3 && !rows(4L)._4 && !rows(4L)._6)
    assert(rows(5L)._1 && !rows(5L)._4 && !rows(5L)._6)
    assert(!rows(6L)._5 && !rows(6L)._6)
    assert(rows(7L) == ((false, false, false, false, false, false)),
      "null text must fail every rule with false, not NULL")
  }

  test("q118 packing invariants: full doc coverage, in-example slices disjoint, boundaries crossed") {
    val dir = corpus((1L to 40L).map(i =>
      (i, (1 to 30 + (i % 25).toInt).map(j => s"w$j").mkString(" "))): _*)
    val rows = SparkEntry.queries("q118_pack_sequences")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("ex"),
        r.getAs[Long]("doc_from"), r.getAs[Long]("doc_to"),
        r.getAs[Long]("ex_off")))
    // per doc: slices tile [1, n_tok] contiguously in example order
    rows.groupBy(_._1).foreach { case (id, rs) =>
      val slices = rs.toSeq.sortBy(_._4).map(r => (r._5, r._6))
      assert(slices.head._1 == 1L, s"doc $id starts at ${slices.head._1}")
      assert(slices.last._2 == rs.head._3, s"doc $id must end at n_tok")
      slices.sliding(2).foreach {
        case Seq((_, t0), (f1, _)) => assert(f1 == t0 + 1, s"doc $id gap")
        case _ =>
      }
    }
    // per example: slices fit in [0, 128) and never overlap (gaps = <eod>s)
    rows.groupBy(r => (r._2, r._4)).foreach { case (k, rs) =>
      val sorted = rs.toSeq.sortBy(_._7).map(r => (r._7, r._7 + (r._6 - r._5) + 1))
      sorted.foreach { case (off, end) =>
        assert(off >= 0 && end <= 128, s"example $k slice [$off,$end)") }
      sorted.sliding(2).foreach {
        case Seq((_, e0), (o1, _)) => assert(o1 >= e0, s"example $k overlap")
        case _ =>
      }
    }
    // the cross-boundary cases both materialize
    assert(rows.groupBy(_._1).values.exists(_.size > 1), "no doc spans examples")
    assert(rows.groupBy(r => (r._2, r._4)).values.exists(_.size > 1),
      "no example holds several docs")
  }

  test("q116: stutter and repeated bigrams collapse, partial repeats survive") {
    val dir = corpus(
      (1L, "x x x y"),         // token stutter
      (2L, "x y x y x y z"),   // periodic bigram run collapses in ONE pass
      (3L, "a b a"),           // partial (incomplete) repeat: untouched
      (4L, "q"),               // singleton
      (5L, "a b b a"))         // stutter inside, no false bigram positives
    val rows = SparkEntry.queries("q116_collapse_repeats")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("cleaned")))).toMap
    assert(rows(1L) == ((2L, "x y")))
    assert(rows(2L) == ((4L, "x y z")))
    assert(rows(3L) == ((0L, "a b a")))
    assert(rows(4L) == ((0L, "q")))
    assert(rows(5L) == ((1L, "a b a")))
  }

  test("q113: fuzzy decontamination is directional — corpus↔bench only, verified at τ") {
    val a = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 12).map(i => s"beta$i").mkString(" ")
    val c = (1 to 12).map(i => s"gamma$i").mkString(" ")
    val dir = corpus(
      (5L, a),   // benchmark (id % 5 == 0)
      (1L, a),   // corpus copy of benchmark → must be flagged, j = 1.0
      (2L, b),   // corpus, unrelated
      (3L, b),   // corpus copy of a CORPUS doc → never emitted
      (10L, c),  // benchmark
      (15L, c))  // benchmark copy of a BENCHMARK doc → never emitted
    val rows = SparkEntry.queries("q113_decontaminate_fuzzy")(spark, dir)
      .collect().map(r => (r.getAs[Long]("c_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jaccard")))
    assert(rows.toSeq == Seq((1L, 5L, 1.0)),
      s"only the corpus→benchmark copy may surface: ${rows.toSeq}")
  }

  test("q136: temperature mixing upweights low-resource sources; selection is capped and checksummed") {
    // srcBig 90 docs, srcSmall 10 — natural shares 0.9/0.1; α = 1/2
    // shares √90/(√90+√10) ≈ 0.75/0.25: the small source's share must
    // RISE and the big source's fall (the mT5 balancing property)
    val dir = corpusSrc(
      ((1L to 90L).map(i => (i, s"doc $i text", "srcBig")) ++
        (91L to 100L).map(i => (i, s"doc $i text", "srcSmall"))): _*)
    val out = SparkEntry.queries("q136_mix_temperature")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("budget"),
          r.getAs[Long]("kept"), r.getAs[Long]("sel_checksum")))).toMap
    val (nB, bB, kB, csB) = out("srcBig")
    val (nS, bS, kS, _) = out("srcSmall")
    assert(nB == 90L && nS == 10L)
    assert(bS.toDouble / (bB + bS) > 0.1,
      "small source's budget share must exceed its natural share")
    assert(bB.toDouble / (bB + bS) < 0.9)
    assert(kB <= nB && kS <= nS, "kept never exceeds availability")
    assert(kS == nS, "the upweighted small source is fully kept here")
    // checksum witnesses an actual md5-ranked selection of kB docs
    val sel = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") === "srcBig")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(kB.toInt)
      .agg(sum(col("doc_id"))).collect().head.getLong(0)
    assert(csB == sel, "checksum must equal the independent md5-rank pick")
  }

  test("q110: importance weights match a brute-force reference; target-like docs outrank") {
    val dir = tmpDir("dsir")
    val rows = Seq(
      (1L, "alpha beta alpha beta", "en"),
      (2L, "alpha beta gamma", "en"),
      (3L, "delta epsilon zeta", "fr"),
      (4L, "alpha beta alpha", "fr"),  // raw doc built from target-typical features
      (5L, "delta epsilon delta", "fr")) // raw doc built from raw-only features
    rows.map { case (id, t, l) => (id, t, l, "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CorpusOps.importanceWeights(
        graft.Tables.documents(spark, dir), "doc_id", col("lang") === "en", 64)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_feat"), r.getAs[Double]("weight")))).toMap

    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(f: String) = (java.lang.Long.parseLong(md5hex(f).take(8), 16) % 64).toInt
    def feats(t: String) = {
      val ts = t.toLowerCase.split(" ", -1).toSeq
      ts ++ ts.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val all = rows.map { case (id, t, l) => (id, feats(t), l == "en") }
    val cntR = new Array[Long](64); val cntT = new Array[Long](64)
    all.foreach { case (_, fs, tgt) => fs.foreach { f =>
      val b = bucket(f); cntR(b) += 1; if (tgt) cntT(b) += 1 } }
    val totalR = cntR.sum; val totalT = cntT.sum
    def ratio(b: Int): Double =
      ((cntT(b) + 1) * (totalR + 64)).toDouble / ((cntR(b) + 1) * (totalT + 64))
    all.foreach { case (id, fs, _) =>
      var w = 1.0
      fs.foreach(f => w *= ratio(bucket(f))) // position order = the op's fold order
      assert(out(id)._1 == fs.size.toLong, s"n_feat of doc $id")
      assert(out(id)._2 == w, s"weight of doc $id (bit-exact)")
    }
    assert(out(4L)._2 > out(5L)._2,
      "a raw doc of target-typical features must outweigh a raw-only one")
  }

  test("null and empty text never crash the corpus queries") {
    val dir = tmpDir("corpus-null")
    Seq(
      (1L, null: String, "srcA"),
      (2L, "", "srcA"),
      (3L, (1 to 30).map(i => s"w$i").mkString(" "), "srcA"),
      (4L, (1 to 30).map(i => s"w$i").mkString(" ") + " tail", "srcB"))
      .map { case (id, text, src) =>
        (id, text, "en", src, Option(text).map(_.length.toLong).getOrElse(0L))
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def ids(q: String): Set[Long] =
      SparkEntry.queries(q)(spark, dir).collect().flatMap { r =>
        r.schema.fieldNames.filter(f => f == "doc_id" || f.endsWith("_id"))
          .map(f => r.getAs[Long](f))
      }.toSet
    // pair/span/pipeline/df queries: a NULL token set must never pair,
    // span, survive a gate, or produce postings — not act as an empty set
    Seq("q72_dedup_spans", "q73_pipeline_clean", "q76_text_rare_terms",
      "q77_text_contamination", "q74_dedup_containment",
      "q41b_dedup_minhash_md5", "q42b_dedup_simhash_md5").foreach { q =>
      assert(!ids(q).contains(1L), s"$q surfaced the null-text doc")
    }
    // per-doc stat queries keep the row (as their oracles would) with NULL
    // metrics rather than fabricating zeros
    Seq("q71_text_repetition", "q75_mix_token_budget").foreach { q =>
      assert(ids(q).contains(1L), s"$q must keep the null-text doc's row")
    }
    val nullRow = SparkEntry.queries("q71_text_repetition")(spark, dir)
      .filter(col("doc_id") === 1L).collect().head
    assert(nullRow.isNullAt(nullRow.fieldIndex("dup_2gram_frac")),
      "null text must yield NULL metrics, not fabricated zeros")
  }

  test("q74: containment pairs what Jaccard misses, bounded by τ") {
    val big = (1 to 20).map(i => s"t$i").mkString(" ")
    val dir = corpus(
      (1L, big),
      (2L, "t1 t2 t3 t4 t5"),     // ⊂ doc 1: overlap 1.0, jaccard 0.25
      (3L, "t1 t2 t3 u1 u2"))     // inter 3, overlap 0.6 → below τ
    val overlapPairs = SparkEntry.queries("q74_dedup_containment")(spark, dir)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("overlap"))).toSet
    assert(overlapPairs == Set((1L, 2L, 1.0)))
    val jaccardPairs = SparkEntry.queries("q37_dedup_jaccard")(spark, dir)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(jaccardPairs.isEmpty,
      s"Jaccard τ=0.8 must not see the containment pair: $jaccardPairs")
  }

  test("q91 packing invariants: start offsets live in their shard's budget bucket, order deterministic") {
    val docs = (1L to 40L).map(i =>
      (i, (1 to (i % 7 + 3).toInt).map(j => s"w$j").mkString(" "),
        if (i % 2 == 0) "srcA" else "srcB"))
    val dir = corpusSrc(docs: _*)
    val out = SparkEntry.queries("q91_pack_shards")(spark, dir).collect()
    assert(out.length == 40)
    // recompute each doc's running start offset per (source, md5 order)
    val bySrc = out.map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("n_tok"), r.getAs[Long]("shard")))
      .groupBy(_._1)
    val budget = 400L
    bySrc.foreach { case (_, rows) =>
      val ordered = rows.sortBy { case (_, id, _, _) =>
        (java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString, id)
      }
      var cum = 0L
      ordered.foreach { case (_, id, n, shard) =>
        assert(shard == cum / budget, s"doc $id: shard $shard, start $cum")
        cum += n
      }
    }
    // deterministic: a rerun is identical
    val again = SparkEntry.queries("q91_pack_shards")(spark, dir).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("q97 span corruption round-trips: splicing target spans into the input reconstructs the doc") {
    val texts = Seq(
      (1L, (1 to 60).map(i => s"tok$i").mkString(" ")),
      (2L, (1 to 25).map(i => s"word$i").mkString(" ")),
      (3L, "short doc"))
    val dir = corpus(texts: _*)
    val rows = SparkEntry.queries("q97_span_corruption")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_masked"),
        r.getAs[Long]("n_spans"), r.getAs[String]("input_text"),
        r.getAs[String]("target_text"))).toSeq
    assert(rows.map(_._1).toSet == Set(1L, 2L, 3L))
    rows.foreach { case (id, nMasked, nSpans, input, target) =>
      // parse the target into span-index → tokens
      val spans = scala.collection.mutable.Map[Int, Vector[String]]()
      var cur = -1
      target.split(" ").filter(_.nonEmpty).foreach { t =>
        if (t.startsWith("<X_")) { cur = t.stripPrefix("<X_").stripSuffix(">").toInt; spans(cur) = Vector() }
        else spans(cur) :+= t
      }
      assert(spans.size == nSpans, s"doc $id: ${spans.size} vs $nSpans")
      assert(spans.values.map(_.size).sum == nMasked)
      // splice: replace each sentinel in the input with its span
      val rebuilt = input.split(" ").filter(_.nonEmpty).flatMap { t =>
        if (t.startsWith("<X_"))
          spans(t.stripPrefix("<X_").stripSuffix(">").toInt)
        else Vector(t)
      }.mkString(" ")
      val original = texts.find(_._1 == id).get._2.toLowerCase
      assert(rebuilt == original, s"doc $id: '$rebuilt' != '$original'")
    }
    // determinism: the hash-driven mask is a pure function of (id, pos)
    val again = SparkEntry.queries("q97_span_corruption")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(rows.map(t => Seq(t._1, t._2, t._3, t._4, t._5)) == again)
  }

  test("q92 chunking invariants: full coverage, overlap = window - stride, short tail only") {
    val dir = corpus(
      (1L, (1 to 50).map(i => s"t$i").mkString(" ")), // 50 toks → 2 chunks
      (2L, (1 to 30).map(i => s"t$i").mkString(" ")), // exactly one window
      (3L, "a b"),                                    // shorter than a window
      (4L, (1 to 71).map(i => s"t$i").mkString(" "))) // 71 → ceil(41/20)+1 = 4
    val rows = SparkEntry.queries("q92_chunk_windows")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[String]("chunk_text"), r.getAs[Long]("n_tok")))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc(1L).length == 2 && byDoc(2L).length == 1 &&
      byDoc(3L).length == 1 && byDoc(4L).length == 4,
      s"chunk counts: ${byDoc.view.mapValues(_.length).toMap}")
    // coverage: last chunk reaches the final token; only the last is short
    byDoc.foreach { case (id, cs) =>
      val n = Map(1L -> 50, 2L -> 30, 3L -> 2, 4L -> 71)(id)
      val sorted = cs.sortBy(_._2)
      assert(sorted.last._2 * 20 + sorted.last._4 >= n, s"doc $id tail uncovered")
      sorted.init.foreach { case (_, k, _, nt) =>
        assert(nt == 30, s"doc $id chunk $k short before the tail") }
    }
    // overlap: doc 1 chunk 0 tokens 21..30 == chunk 1 tokens 1..10
    val doc1 = byDoc(1L).sortBy(_._2).toIndexedSeq
    val c0 = doc1(0)._3.split(" ")
    val c1 = doc1(1)._3.split(" ")
    assert(c0.slice(20, 30).toSeq == c1.slice(0, 10).toSeq)
  }

  test("q244: water level invariants — feasible, ratio-exact, limiting source binds") {
    val rows = graft.SparkEntry.queries("q244_mix_water_fill")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val wTotal = rows.map(r => r.getAs[Long]("weight")).sum
    val tMax = rows.head.getAs[Long]("t_max")
    rows.foreach { r =>
      val avail = r.getAs[Long]("avail_tokens")
      val w = r.getAs[Long]("weight")
      val cap = r.getAs[Long]("cap_total")
      val alloc = r.getAs[Long]("alloc_tokens")
      assert(alloc <= avail, s"infeasible allocation: $r")
      assert(cap >= tMax, "level must be the min of the caps")
      assert(r.getAs[Boolean]("limiting") == (cap == tMax))
      // exact-ratio: alloc is the floor of T·w/W, so the cross-multiplied
      // deviation from the target share is bounded by the floor slack
      assert(tMax * w - alloc * wTotal >= 0L &&
        tMax * w - alloc * wTotal < wTotal, s"ratio drift: $r")
    }
    val lim = rows.filter(_.getAs[Boolean]("limiting"))
    assert(lim.nonEmpty, "some source must bind the level")
    lim.foreach { r =>
      // the binding source is (within floor slack) fully consumed
      assert(r.getAs[Long]("alloc_tokens") >= r.getAs[Long]("avail_tokens") - 1L)
    }
  }

  test("q195: defect branches fire exactly on their residues") {
    val rows = SparkEntry.queries("q195_preference_pair_audit")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val nc = r.getAs[Long]("n_chosen")
      val nr = r.getAs[Long]("n_rejected")
      val tie = r.getAs[Boolean]("is_tie")
      val stutter = r.getAs[Boolean]("has_stutter")
      if (id % 9 == 0) {
        assert(tie, s"doc $id: the mod-9 branch is a tie")
        assert(nr == nc && r.getAs[Long]("len_gap") == 0)
      } else if (id % 5 == 0) {
        // truncated-to-third rejected: strictly shorter than chosen
        assert(nr == math.max(nc / 3, 1L), s"doc $id truncation length")
        assert(!tie)
      } else {
        assert(stutter, s"doc $id: the stutter branch duplicates token 1")
        assert(nr == nc + 2, s"doc $id: stutter adds exactly 2 tokens")
        assert(!tie)
      }
      assert(r.getAs[Boolean]("keep") == (!tie && !stutter))
    }
    // chosen always has >= 6 tokens under the n >= 8 gate
    assert(rows.forall(_.getAs[Long]("n_chosen") >= 6))
  }

  test("q196: kappa matches a driver-side brute-force recount") {
    val row = SparkEntry.queries("q196_annotator_agreement")(spark, sfDir).collect().head
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        (size(array_distinct(split(lower(col("text")), " "))) * 2 >=
          size(split(lower(col("text")), " "))).as("a"))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    val labeled = docs.map { case (id, a) => (a, a != (id % 7 == 0)) }
    val n = labeled.length.toLong
    val agree = labeled.count { case (a, b) => a == b }.toLong
    val aPos = labeled.count(_._1).toLong
    val bPos = labeled.count(_._2).toLong
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Long]("n_agree") == agree)
    assert(row.getAs[Long]("a_pos") == aPos)
    assert(row.getAs[Long]("b_pos") == bPos)
    // disagreements are exactly the flipped residue rows
    assert(n - agree == docs.count { case (id, _) => id % 7 == 0 })
    val peN2 = aPos * bPos + (n - aPos) * (n - bPos)
    val kappa = (n * agree - peN2).toDouble / (n * n - peN2)
    assert(row.getAs[Double]("kappa") == kappa)
    assert(kappa > -1.0 - 1e-12 && kappa < 1.0 + 1e-12)
  }

  test("q197: TVD accounting — terms sum, totals match the snapshots") {
    val rows = SparkEntry.queries("q197_corpus_drift_tvd")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val crossSum = rows.map(_.getAs[Long]("cross_abs")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("tvd_num") == crossSum)
      assert(r.getAs[Long]("tvd_den") > 0)
      assert(r.getAs[Boolean]("drifted") ==
        (r.getAs[Long]("tvd_num") * 10 >= r.getAs[Long]("tvd_den")))
    }
    val totOld = rows.map(_.getAs[Long]("n_old")).sum
    val totNew = rows.map(_.getAs[Long]("n_new")).sum
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
    assert(totOld == docs.filter(col("doc_id") % 7 =!= 1).count())
    assert(totNew == docs.filter(col("doc_id") % 11 =!= 3).count())
    // TVD = tvd_num / tvd_den lands in [0, 1]
    assert(crossSum <= rows.head.getAs[Long]("tvd_den"))
  }

  test("q201: every cumulative row equals a from-scratch recompute at that wave") {
    val rows = SparkEntry.queries("q201_card_incremental")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the incremental claim IS this equality: running sums of per-wave
    // partials (unique counted by min-wave ownership) ≡ recomputing the
    // whole card over waves ≤ N
    val base = graft.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select((col("doc_id") / 100).cast("long").as("wave"),
        md5(col("text").cast("binary")).as("fp"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tok"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    rows.foreach { r =>
      val w = r.getAs[Long]("wave")
      val upTo = base.filter(_._1 <= w)
      assert(r.getAs[Long]("cum_docs") == upTo.length.toLong)
      assert(r.getAs[Long]("cum_tokens") == upTo.map(_._3).sum)
      assert(r.getAs[Long]("cum_unique") ==
        upTo.map(_._2).distinct.length.toLong)
      assert(r.getAs[Long]("cum_dup_docs") ==
        r.getAs[Long]("cum_docs") - r.getAs[Long]("cum_unique"))
      assert(r.getAs[Long]("dup_permille") ==
        r.getAs[Long]("cum_dup_docs") * 1000 / r.getAs[Long]("cum_docs"))
    }
  }
}
