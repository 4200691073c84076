package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query at SPARK_GRAFT_SF_DIR and
  * prints JSON lines — first a full detail line `{"metric":"total",
  * "value":N,"unit":"sec","queries":{name:sec,…},"rows":{name:n,…},
  * "errors":{name:class,…},"sf":…}`, then (best-effort) a `movers` line
  * diffing headline medians against the newest committed BENCH_r*.json,
  * then a COMPACT summary line LAST (same shape, `queries` restricted to
  * a fixed headline subset) guaranteed to fit inside a 2 KB output-tail
  * capture. Rounds 1–11 proved the driver keeps only the last ~2000
  * chars of stdout: the 158-query detail line is ~10 KB, so every
  * round's `BENCH_r{N}.json` came back `parsed: null` with a mid-line
  * tail. The compact line is printed LAST so any tail window ends with
  * one complete, parseable JSON object.
  *
  * Headline values are MEDIAN-OF-3 (`"med":3` on the compact line): the
  * main pass provides sample 1 and two extra interleaved passes over the
  * headline subset provide samples 2–3, because single runs of the
  * shuffle-heavy queries swing 2–3× with host memory-bandwidth load
  * (BASELINE.md: q134 measured 2.5→11.9 s across two runs of the SAME
  * build) — a one-sample record reads as a phantom regression.
  *
  * Honesty contract: a query that throws is excluded from `queries`/`value`
  * and recorded under `errors` instead (a crash must never read as a fast
  * run), and `rows` carries each query's result count so a silently-empty
  * result can't look like a fast full one. The compact line carries
  * `nq`/`nerr` so a partial run can't read as a full one, and caps the
  * inline error map at 3 entries (the full map stays on the detail line)
  * so a many-failure run can't outgrow the tail window exactly when
  * diagnosis matters.
  *
  * Host-contention honesty (r21, additions-only): the compact line also
  * carries `"load":[pre,post]` (1-min loadavg around the whole run) and
  * `"qmin":{…}` — per-headline-query MIN over the same 3 samples, keyed
  * by the unique leading qNN token. Medians answer "typical run on this
  * host"; mins are the defensible cross-round comparator when the host
  * was contended (see CLAUDE.md's 50.5 s vs 145 s same-build note).
  */
object Bench {

  private[graft] val headline = Seq(
    "q01_scan_project", "q05_join_inner", "q13_agg_hash", "q17_win_rank",
    "q19_sort_limit", "q29_stream_tumbling", "q37_dedup_jaccard",
    "q41b_dedup_minhash_md5", "q66_dedup_components", "q74_dedup_containment",
    "q100_bpe_encode", "q104_dedup_semantic_cells", "q110_dsir_importance",
    "q126_classifier_quality", "q129_graph_pagerank", "q133_graph_triangles",
    // the known swing set (host memory-bandwidth-sensitive tails): medians
    // here too, so a round's driver-recorded numbers compare across rounds
    "q79_dedup_cluster_sizes", "q134_graph_communities",
    "q154_dedup_keep_best", "q174_split_cluster_coherent",
  )

  /** Lower median — defined for ANY sample count ≥ 1, so a headline query
    * that succeeded in the main pass but threw in an extra pass still
    * reports (from its surviving samples) instead of silently vanishing
    * from the compact line. */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((s.size - 1) / 2)
  }

  /** Newest committed BENCH_r*.json with a parsed compact line, for the
    * movers diff. Best-effort: any failure → None, never a crash. */
  private def prevHeadline(): Option[(String, Map[String, Double])] =
    scala.util.Try {
      // the driver pretty-prints its JSON (": " and newlines) — allow
      // whitespace around the colon
      val rx = """"(q[0-9a-z_]+)"\s*:\s*([0-9.]+)""".r
      // sort by the PARSED round number — a lexicographic name sort would
      // rank an unpadded BENCH_r9.json above BENCH_r13.json
      val files = Option(new java.io.File(".").listFiles()).getOrElse(Array())
        .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(f => f.getName.stripPrefix("BENCH_r")
          .stripSuffix(".json").toInt)
      files.lastOption.flatMap { f =>
        val txt = scala.io.Source.fromFile(f)
        val body = try txt.mkString finally txt.close()
        // the driver file nests the compact line under "parsed"; scan the
        // "queries" OBJECT inside that region only — the parsed line also
        // carries lost_samples (query-name -> small-int shortfall counts),
        // and a bare scan-everything-after-"parsed" would sweep those in
        // and depend on key serialization order to mask them
        val i = body.indexOf("\"parsed\"")
        val j = if (i < 0) -1 else body.indexOf("\"queries\"", i)
        if (j < 0) None else {
          val region = body.substring(j, body.indexOf('}', j) max j)
          val qs = rx.findAllMatchIn(region)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          if (qs.isEmpty) None else Some(f.getName -> qs)
        }
      }
    }.toOption.flatten

  /** 1-minute loadavg, best-effort (Linux /proc; -1.0 when unreadable).
    * Carried on the compact line as `"load":[pre,post]` so a reader can
    * tell a contended-host run from a quiet one — the r20 driver runs
    * measured 2.5–4× inflation on UNTOUCHED scan queries and the record
    * carried no way to see it (VERDICT r20 item 2). */
  private def loadavg1(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    }.getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/IO paths so the first measured query isn't charged
    // for session initialization
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // SPARK_GRAFT_ONLY=q37_dedup_jaccard,q66_dedup_components restricts the
    // run for A/B iteration; unset (the driver's mode) runs everything
    val loadPre = loadavg1()
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def time(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Either[String, Long]) = {
      val t0 = System.nanoTime()
      val outcome =
        try Right(fn(spark, sfDir).count())
        catch { case e: Throwable => Left(e.getClass.getSimpleName) }
      ((System.nanoTime() - t0) / 1e9, outcome)
    }
    val results = selected.map { case (name, fn) =>
      val (sec, outcome) = time(name, fn)
      (name, sec, outcome)
    }
    def obj(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val ok = results.collect { case (n, sec, Right(rows)) => (n, sec, rows) }
    val failed = results.collect { case (n, _, Left(err)) => (n, err) }
    val qs = obj(ok.map { case (n, sec, _) => n -> sec.toString })
    val rows = obj(ok.map { case (n, _, r) => n -> r.toString })
    val errors = obj(failed.map { case (n, e) => n -> s""""$e"""" })
    val total = ok.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"rows":$rows,"errors":$errors,"sf":"$sfDir"}""")
    // samples 2 and 3 for the headline subset, interleaved in the same
    // (alphabetical) positions as the main pass so JIT/cache warmth is
    // comparable across samples. Only queries that SUCCEEDED in the main
    // pass re-run: a main-pass crash is already in errors/nerr, and letting
    // extra-pass successes resurrect it in the compact queries map would
    // make a crash read as a fast run (the honesty contract above).
    val sample1 = ok.map { case (n, sec, _) => n -> sec }.toMap
    val headSel = selected.filter { case (n, _) =>
      headline.contains(n) && sample1.contains(n) }
    val extra: Seq[Map[String, Double]] = (1 to 2).map { _ =>
      headSel.flatMap { case (n, fn) =>
        val (sec, outcome) = time(n, fn)
        outcome.toOption.map(_ => n -> sec)
      }.toMap
    }
    // one sample assembly feeds BOTH the medians and the shortfall record
    // (an extra-pass throw must not erase a query from the compact line —
    // that would read as a clean shorter run; lost_samples says so instead)
    val headSamples: Seq[(String, Seq[Double])] = headline.flatMap { n =>
      sample1.get(n).map(s1 => n -> (s1 +: extra.flatMap(_.get(n))))
    }
    val medians = headSamples.map { case (n, ss) => n -> median(ss) }
    // per-query MIN over the same 3 samples — the only defensible
    // estimator under host memory-bandwidth contention (identical builds
    // measured 50.5 s vs 145 s; the r20 driver runs were 2.5–4× inflated
    // on untouched queries). ADDITIVE: `queries` keeps the medians; keys
    // are shortened to the unique leading qNN token to hold the compact
    // line under the ~1.5 KB tail budget.
    val mins = headSamples.map { case (n, ss) => n -> ss.min }
    val lostSamples = headSamples.collect {
      case (n, ss) if ss.size < 3 => n -> (3 - ss.size)
    }
    // movers: headline medians vs the newest committed round record —
    // emitted mid-stream (the compact line stays last)
    prevHeadline().foreach { case (fname, prev) =>
      val movers = medians.flatMap { case (n, med) =>
        prev.get(n).collect {
          case p if p > 0.05 && (med / p > 1.5 || med / p < 0.67) =>
            n -> f""""${p}%.2f->${med}%.2f""""
        }
      }
      println(s"""{"metric":"movers","vs":"$fname","n_movers":${movers.size},"movers":${obj(movers)}}""")
    }
    // Compact summary, printed last: headline medians only, 3-decimal
    // seconds, no rows map, error map capped at 3 entries — stays well
    // under a 2000-char tail window even on a many-failure run.
    val qsShort = obj(medians.map { case (n, med) => n -> f"$med%.3f" })
    val errShort = obj(failed.take(3).map { case (n, e) => n -> s""""$e"""" })
    val lost = if (lostSamples.isEmpty) ""
      else s""","lost_samples":${obj(lostSamples.map { case (n, k) =>
        n -> k.toString })}"""
    // unique leading token (q133_graph_triangles -> q133); two headline
    // names sharing one would silently overwrite each other's min
    val qminKeys = mins.map { case (n, _) => n.takeWhile(_ != '_') }
    require(qminKeys.distinct.size == qminKeys.size,
      s"headline queries share a qmin key: ${qminKeys.diff(qminKeys.distinct).mkString(",")}")
    val qmin = obj(qminKeys.zip(mins).map { case (k, (_, v)) => k -> f"$v%.3f" })
    val loadPost = loadavg1()
    val load = f""","load":[$loadPre%.2f,$loadPost%.2f]"""
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","nq":${ok.size},"nerr":${failed.size},"med":3$lost$load,"qmin":$qmin,"queries":$qsShort,"errors":$errShort,"sf":"$sfDir"}""")
    spark.stop()
  }
}
