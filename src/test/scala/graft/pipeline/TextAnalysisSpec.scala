package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the PII / repetition / composed-export family: the
  * planted rows must demonstrably fire each stage (beyond the value-level
  * DuckDB oracles, which pin the full outputs). */
class TextAnalysisSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private val Plant = DedupQueries.PlantOffset

  test("piiRedact: planted PII is counted and scrubbed; base corpus is clean") {
    val rows = TextAnalysis.piiRedact(spark, sfDir).collect()
    val (plants, base) = rows.partition(_.getAs[Long]("doc_id") >= Plant)
    assert(plants.nonEmpty, "planted rows present")
    plants.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1L, s"one planted email: $r")
      assert(r.getAs[Long]("n_phones") == 1L, s"one planted phone: $r")
      assert(r.getAs[Long]("n_ips") == 1L, s"one planted IPv4: $r")
    }
    base.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 0L && r.getAs[Long]("n_phones") == 0L
        && r.getAs[Long]("n_ips") == 0L, s"synthetic corpus is PII-free: $r")
    }
    // redaction changes the text: a plant's md5 differs from its base twin's
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("redacted_md5")).toMap
    assert(byId(Plant) != byId(0L), "plant text (with PII redacted) differs from base text")
  }

  test("repetitionSignals: boilerplate plants dominate the bigram signal") {
    val rows = TextAnalysis.repetitionSignals(spark, sfDir).collect()
    val plants = rows.filter(_.getAs[Long]("doc_id") >= Plant)
    assert(plants.length == 10)
    plants.foreach { r =>
      assert(r.getAs[Long]("top_bigram_n") >= 24L,
        s"the repeated phrase must dominate the plant's top bigram: $r")
    }
    val base = rows.filter(_.getAs[Long]("doc_id") < Plant)
    assert(base.forall(_.getAs[Long]("n_words") > 0))
  }

  test("decontaminate: planted benchmark leaks flagged, clean corpus docs pass") {
    val rows = TextAnalysis.decontaminate(spark, sfDir).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("max_shared_shingles"), r.getAs[Boolean]("contaminated"))).toMap
    // every planted doc (benchmark text inside unrelated padding) is flagged
    (0L until TextAnalysis.DecontamBenchDocs.toLong).foreach { i =>
      assert(byId(Plant + i)._2, s"plant $i must be contaminated: ${byId(Plant + i)}")
      assert(byId(i)._2, s"benchmark doc $i itself is in-corpus and must flag")
      // the plant covers the benchmark fully: shared == the bench doc's own count
      assert(byId(Plant + i)._1 == byId(i)._1, s"plant $i must cover bench $i fully")
    }
    // in the non-plant range the flag must equal an INDEPENDENT scalar-side
    // recompute of the 80%-coverage rule (graft shingle kernel, not the
    // Column expression): exact/near duplicates of benchmark texts — which
    // the synthetic corpus plants — flag; incidental template-sentence
    // overlap never does
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val benchSets = (0L until TextAnalysis.DecontamBenchDocs.toLong)
      .map(i => Dedup.shingles(docsDf(i)))
    def covered(text: String): Boolean = {
      val sh = Dedup.shingles(text)
      benchSets.exists(b => b.nonEmpty && sh.intersect(b).size * 10 >= b.size * 8)
    }
    val cleanRange = rows.filter { r =>
      val id = r.getAs[Long]("doc_id")
      id >= TextAnalysis.DecontamBenchDocs && id < Plant
    }
    cleanRange.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("contaminated") == covered(docsDf(id)),
        s"doc $id flag must match the independent coverage recompute: $r")
    }
    assert(cleanRange.exists(_.getAs[Boolean]("contaminated")),
      "the corpus's planted benchmark near-duplicates must be caught")
    assert(cleanRange.exists(!_.getAs[Boolean]("contaminated")))
  }

  test("corpusExport: exact plants die in dedup, boilerplate plants at the gates") {
    val rows = TextAnalysis.corpusExport(spark, sfDir).collect()
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(rows.nonEmpty, "some of the corpus survives the gates")
    assert(!ids.exists(_ >= 2 * Plant),
      "exact-copy plants must be removed by the dedup stage (base twin kept)")
    assert(!ids.exists(id => id >= Plant && id < 2 * Plant),
      "boilerplate plants must be dropped by the repetition gates")
    val baseCount = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length < baseCount,
      "the quality gates must also drop some naturally short/repetitive base docs")
  }

  test("sampleSplit: deterministic, total, and within binomial bounds per split") {
    val rows = TextAnalysis.sampleSplit(spark, sfDir).collect()
    val again = TextAnalysis.sampleSplit(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "assignment is a pure function of (doc_id, salt)")
    val n = rows.length
    val bySplit = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(bySplit.values.sum == n, "every document lands in exactly one split")
    // 13/256 expected for test and val; allow a generous ±4σ binomial band
    val p = 13.0 / 256.0
    val tol = 4 * math.sqrt(n * p * (1 - p))
    Seq("test", "val").foreach { s =>
      val c = bySplit.getOrElse(s, 0)
      assert(math.abs(c - n * p) <= tol, s"split $s count $c outside ${n * p} ± $tol")
    }
    // bucket is the md5 prefix the split was derived from — spot-check one row
    val r0 = rows.find(_.getAs[Long]("doc_id") == 0L).get
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(("0" + TextAnalysis.SplitSalt).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(2)
    assert(r0.getAs[String]("bucket") == h)
  }

  test("mixtureRebalance: exact driver-side replay; the skewed group is downsampled") {
    val docRows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getAs[Number]("doc_id").longValue(), r.getAs[String]("lang")))
    // plain-Scala replay of the whole operator
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): String = md.digest((id.toString + TextAnalysis.MixSalt)
      .getBytes("UTF-8")).map("%02x".format(_)).mkString.take(2)
    val byLang = docRows.groupBy(_._2)
    val total = docRows.length.toLong
    val groups = byLang.size.toLong
    val expected = byLang.toSeq.sortBy(_._1).map { case (lang, ds) =>
      val n = ds.length.toLong
      val kb = math.max(1L, math.min(256L, (256L * total) / (groups * n)))
      val kept =
        if (kb >= 256L) n
        else ds.count(d => bucket(d._1) < "%02x".format(kb)).toLong
      (lang, n, kb, kept)
    }
    val got = TextAnalysis.mixtureRebalance(spark, sfDir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("keep_buckets"), r.getAs[Long]("n_kept"))).toSeq
    assert(got == expected)
    // the fixture's lang skew must make the rate bind somewhere and not everywhere
    assert(got.exists(g => g._3 < 256 && g._4 < g._2), "over-represented group downsampled")
    assert(got.exists(_._3 == 256), "at-or-under-share groups keep everything")
  }

  test("packSequences: exact greedy packing per bucket, invariant to parallelism") {
    val rows = TextAnalysis.packSequences(spark, sfDir).collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == nDocs, "every document is packed exactly once")
    // replay the packing rule driver-side: within each bucket, in doc_id
    // order, cum_before advances by n_tokens; bin/off derive from it
    rows.groupBy(_.getAs[Long]("bucket")).foreach { case (_, bs) =>
      var cum = 0L
      bs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("bin") == cum / TextAnalysis.PackBudget, s"bin mismatch at $r")
        assert(r.getAs[Long]("off") == cum % TextAnalysis.PackBudget, s"off mismatch at $r")
        cum += r.getAs[Long]("n_tokens")
      }
    }
    // parallelism invariance: same output at a different shuffle width
    val spark2Parts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val again = TextAnalysis.packSequences(spark, sfDir).collect()
      assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", spark2Parts)
  }

  test("termStats: df bounded by corpus size, cf >= df, deterministic top-k order") {
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val rows = TextAnalysis.termStats(spark, sfDir).collect()
    assert(rows.length == 100, "the bigram vocabulary exceeds the top-k, so LIMIT binds")
    rows.foreach { r =>
      assert(r.getAs[Long]("df") <= nDocs, s"df cannot exceed corpus size: $r")
      assert(r.getAs[Long]("cf") >= r.getAs[Long]("df"),
        s"collection frequency >= document frequency: $r")
    }
    val keys = rows.map(r => (-r.getAs[Long]("df"), r.getAs[String]("term"))).toSeq
    assert(keys == keys.sorted, "output is ordered by (df DESC, term ASC)")
  }

  test("paragraphDedup: exact driver-side replay; cross-doc duplicates drop") {
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Number]("doc_id").longValue(), r.getAs[String]("text")))
      .sortBy(_._1)
    val W = TextAnalysis.ParaWords
    // plain-Scala replay: chunk, first-occurrence by (doc_id, idx), rebuild
    val paras = texts.flatMap { case (id, t) =>
      t.split(" ", -1).grouped(W).zipWithIndex.map { case (ws, i) => (id, i, ws.mkString(" ")) }
    }
    val firstOf = scala.collection.mutable.Map.empty[String, (Long, Int)]
    paras.foreach { case (id, i, p) =>
      if (!firstOf.contains(p) || Ordering[(Long, Int)].lt((id, i), firstOf(p)))
        firstOf(p) = (id, i)
    }
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = paras.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, ps) =>
      val kept = ps.sortBy(_._2).filter { case (d, i, p) => firstOf(p) == ((d, i)) }
      (id, ps.length.toLong, kept.length.toLong, md5hex(kept.map(_._3).mkString(" ")))
    }
    val got = TextAnalysis.paragraphDedup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_paras"),
        r.getAs[Long]("n_kept"), r.getAs[String]("clean_md5"))).toSeq
    assert(got == expected)
    // the small-vocabulary corpus repeats word runs across documents
    assert(got.map(_._3).sum < got.map(_._2).sum, "some duplicated paragraphs drop")
    assert(got.exists(g => g._3 == g._2), "unique-content docs keep everything")
  }

  test("spanDedup: exact driver-side replay; repeated runs cut at any alignment") {
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Number]("doc_id").longValue(), r.getAs[String]("text")))
      .sortBy(_._1)
    val L = TextAnalysis.SpanWords
    // plain-Scala replay: sliding L-gram first-occurrence, covered-word cut
    val grams = texts.flatMap { case (id, t) =>
      val ws = t.split(" ", -1)
      if (ws.length < L) Seq.empty
      else ws.sliding(L).zipWithIndex.map { case (g, i) => (id, i, g.mkString(" ")) }.toSeq
    }
    val firstOf = scala.collection.mutable.Map.empty[String, (Long, Int)]
    grams.foreach { case (id, i, g) =>
      if (!firstOf.contains(g) || Ordering[(Long, Int)].lt((id, i), firstOf(g)))
        firstOf(g) = (id, i)
    }
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val coveredByDoc = grams.filter { case (id, i, g) => firstOf(g) != ((id, i)) }
      .groupBy(_._1)
      .map { case (id, gs) => id -> gs.flatMap { case (_, i, _) => i until (i + L) }.toSet }
    val expected = texts.map { case (id, t) =>
      val ws = t.split(" ", -1)
      val cov = coveredByDoc.getOrElse(id, Set.empty[Int])
      val kept = ws.zipWithIndex.collect { case (w, i) if !cov.contains(i) => w }
      (id, ws.length.toLong, cov.size.toLong, md5hex(kept.mkString(" ")))
    }.toSeq
    val got = TextAnalysis.spanDedup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_md5"))).toSeq
    assert(got == expected)
    // the small-vocab corpus repeats >= L-word runs across docs; cuts exist
    // but never wipe the corpus
    assert(got.map(_._3).sum > 0, "some repeated spans are removed")
    assert(got.map(_._3).sum < got.map(_._2).sum, "surviving words remain")
  }

  test("lmScore: exact driver-side replay of the self-trained bigram tables") {
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Number]("doc_id").longValue(), r.getAs[String]("text")))
    def bigrams(t: String): Seq[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 2) Seq.empty else ws.sliding(2).map(_.mkString(" ")).toSeq
    }
    val cf2 = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach { case (_, t) => bigrams(t).foreach(b => cf2(b) += 1L) }
    val cf1 = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    cf2.foreach { case (b, c) => cf1(b.split(" ", 2)(0)) += c }
    val expected = texts.filter(t => bigrams(t._2).nonEmpty).sortBy(_._1).map { case (id, t) =>
      val bs = bigrams(t)
      (id, bs.length.toLong,
        bs.map(cf2).sum,
        bs.map(b => cf1(b.split(" ", 2)(0))).sum,
        bs.count(cf2(_) == 1L).toLong)
    }.toSeq
    val got = TextAnalysis.lmScore(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("sum_bigram_cf"), r.getAs[Long]("sum_head_cf"),
        r.getAs[Long]("n_singletons"))).toSeq
    assert(got == expected)
    // the statistics separate documents: novel-content mass exists somewhere
    // and the boilerplate-mass score is not constant across the corpus
    assert(got.exists(_._5 > 0), "singleton (corpus-unique) bigrams exist")
    val means = got.map(g => g._3.toDouble / g._2)
    assert(means.max > means.min, "per-doc boilerplate mass varies")
  }

  test("tfidfKeywords: exact top-3 per doc vs an independent recompute") {
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    // independent recompute: plain Scala collections, same split semantics
    val tf = texts.map { case (id, t) =>
      id -> t.split(" ", -1).groupBy(identity).map { case (w, a) => w -> a.length.toLong }
    }.toMap
    val df = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    tf.values.foreach(_.keys.foreach(w => df(w) += 1))
    val expected = tf.toSeq.sortBy(_._1).flatMap { case (id, m) =>
      m.toSeq.filter { case (w, _) => df(w) >= 3 } // the KeywordMinDf floor
        .map { case (w, f) => (w, f, df(w), (f * 1000000L) / df(w)) }
        .sortBy { case (w, _, _, s) => (-s, w) }
        .take(3).zipWithIndex
        .map { case ((w, f, d, s), i) => (id, w, f, d, s, (i + 1).toLong) }
    }
    val got = TextAnalysis.tfidfKeywords(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"), r.getAs[Long]("tf"),
        r.getAs[Long]("df"), r.getAs[Long]("score_micro"), r.getAs[Long]("rk"))).toSeq
    assert(got == expected)
    // keywords must discriminate: not every document picks the same terms
    assert(got.map(_._2).distinct.length >= 5, "keyword vocabulary varies across docs")
  }

  test("bm25Rank: exact fixed-point replay of the Okapi formula per query term") {
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val words = texts.map { case (id, t) => id -> t.split(" ", -1) }
    val dl = words.map { case (id, ws) => id -> ws.length.toLong }.toMap
    val tf = words.map { case (id, ws) =>
      id -> ws.groupBy(identity).map { case (w, a) => w -> a.length.toLong }
    }.toMap
    val dfm = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    tf.values.foreach(_.keys.foreach(w => dfm(w) += 1))
    val qTerms = dfm.toSeq.sortBy { case (t, d) => (-d, t) }.slice(10, 30)
    assert(qTerms.length == 20, "corpus vocabulary supports the rank-11..30 slice")
    val avgMilli = dl.values.sum * 1000 / dl.size
    val expected = qTerms.flatMap { case (term, d) =>
      tf.toSeq.collect { case (id, m) if m.contains(term) =>
        val f = m(term)
        val ratioMilli = dl(id) * 1000000 / avgMilli
        val denMilli = 1000 * f + 300 + (9 * ratioMilli) / 10
        (id, f, dl(id), (2200 * f * 1000000) / denMilli)
      }.sortBy { case (id, _, _, s) => (-s, id) }.take(10).zipWithIndex
        .map { case ((id, f, l, s), i) => (term, (i + 1).toLong, id, f, l, d, s) }
    }.sortBy { case (t, rk, _, _, _, _, _) => (t, rk) }
    val got = TextAnalysis.bm25Rank(spark, sfDir).collect().map(r =>
      (r.getAs[String]("term"), r.getAs[Long]("rk"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("tf"), r.getAs[Long]("dl"), r.getAs[Long]("df"),
        r.getAs[Long]("score_micro"))).toSeq
    assert(got == expected)
    // BM25 semantics: within a term at equal doc length, a strictly higher
    // fixed-point score must come from strictly higher tf (score ties — only
    // possible at tf large enough for the div rounding to collapse — break
    // by doc_id and carry no tf constraint)
    got.groupBy(_._1).values.foreach { rows =>
      rows.groupBy(_._5).values.foreach { sameLen =>
        sameLen.sortBy(_._2).sliding(2).foreach {
          case Seq(hi, lo) if hi._7 > lo._7 =>
            assert(hi._4 > lo._4, s"higher score needs higher tf: $hi vs $lo")
          case _ => ()
        }
      }
    }
  }

  test("dsirSelect: exact driver-side replay; target-like plants occupy the top ranks") {
    val baseText = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // plain-Scala replay of the whole operator, target synthesis included
    def targetText(i: Long): String =
      s"telemetry packet k${i % 7} sensor calibration v${i % 5} " +
        s"drift gauge g${i % 3} telemetry sensor frame"
    val targetTexts = (0L until TextAnalysis.DsirTargetCount.toLong)
      .map(i => (i + 5 * Plant) -> targetText(i)).toMap
    val candTexts: Map[Long, String] =
      baseText ++ targetTexts.map { case (id, t) => (id - 4 * Plant, t + " zzznovelword") }
    def bigrams(t: String): Seq[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSeq
    def counts(texts: Iterable[String]): Map[String, Long] =
      texts.flatMap(bigrams).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cRef = counts(baseText.values ++ targetTexts.values)
    val cTgt = counts(targetTexts.values)
    val ratio = cRef.map { case (b, cr) => b -> (cTgt.getOrElse(b, 0L) * 1000000L) / cr }
    val expectedScore = candTexts.map { case (id, t) =>
      val bs = bigrams(t)
      id -> (bs.length.toLong, bs.map(b => ratio.getOrElse(b, 0L)).sum / bs.length)
    }
    val topK = expectedScore.toSeq.sortBy { case (id, (_, s)) => (-s, id) }
      .take(TextAnalysis.DsirSelectK).map(_._1).toSet
    val got = TextAnalysis.dsirSelect(spark, sfDir).collect()
    assert(got.length == candTexts.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (nb, score) = expectedScore(id)
      assert(r.getAs[Long]("n_bigrams") == nb, s"n_bigrams mismatch, doc $id")
      assert(r.getAs[Long]("target_mass_micro") == score, s"score mismatch, doc $id")
      assert(r.getAs[Int]("selected") == (if (topK(id)) 1 else 0), s"selection mismatch, doc $id")
    }
    val byId = got.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("target_mass_micro"), r.getAs[Int]("selected"))).toMap
    // every target-like plant is selected with 11/12 of its bigram mass
    // covered at full ratio (the appended word's bigram is unknown)
    (0L until TextAnalysis.DsirTargetCount.toLong).foreach { i =>
      assert(byId(Plant + i) == ((916666L, 1)), s"plant $i: ${byId(Plant + i)}")
    }
    // base docs share no telemetry bigrams: exactly zero mass everywhere
    assert(got.filter(_.getAs[Long]("doc_id") < Plant)
      .forall(_.getAs[Long]("target_mass_micro") == 0L), "base corpus mass is 0")
    // the K-budget tail fills deterministically by doc_id
    val selectedBase = got.filter(r => r.getAs[Long]("doc_id") < Plant
      && r.getAs[Int]("selected") == 1).map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(selectedBase ==
      (0L until (TextAnalysis.DsirSelectK - TextAnalysis.DsirTargetCount).toLong),
      s"zero-mass tail fills by doc_id: $selectedBase")
  }

  test("unicodeNormalize: every rule fires on the plant; rows match a JVM re-derivation") {
    def jvmNorm(s: String): String = {
      val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      val stripped = nfc.replaceAll(TextAnalysis.CtrlClassRe, "")
      val collapsed = stripped.replaceAll(TextAnalysis.SpaceRunRe, " ")
      collapsed.replaceAll("^ +| +$", "") // space-only trim, like SQL trim
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // the suffix alone exercises NFC recomposition, zero-width strip, C0
    // strip, CRLF -> LF, space-run collapse, and trailing-whitespace trim
    assert(jvmNorm(TextAnalysis.NormPlantSuffix) == "caf\u00E9xy\nrow scan",
      "each cleanup rule must fire on the planted suffix")
    val baseText = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = TextAnalysis.unicodeNormalize(spark, sfDir).collect()
    assert(rows.count(_.getAs[Long]("doc_id") >= Plant) == 12, "12 planted rows")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val input = if (id >= Plant) baseText(id - Plant) + TextAnalysis.NormPlantSuffix
                  else baseText(id)
      val want = jvmNorm(input)
      assert(r.getAs[String]("norm_md5") == md5hex(want), s"norm text mismatch, doc $id")
      assert(r.getAs[Int]("norm_bytes") == want.getBytes("UTF-8").length,
        s"norm byte length mismatch, doc $id")
      assert(r.getAs[Int]("changed") == (if (want != input) 1 else 0),
        s"changed flag mismatch, doc $id")
    }
    // every plant demonstrably changed; the base corpus may or may not
    rows.filter(_.getAs[Long]("doc_id") >= Plant)
      .foreach(r => assert(r.getAs[Int]("changed") == 1, s"plant must change: $r"))
  }
}
