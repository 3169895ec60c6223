package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the dedup/similarity family: planted near-duplicates
  * MUST be found; exact measures verified by hand-computation; results
  * deterministic. */
class DedupSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("minhash signature: identical texts identical sigs; jaccard-correlated") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val c = "completely different words everywhere nothing shared at all here whatsoever"
    val sa1 = Dedup.minhashSignature(a)
    val sa2 = Dedup.minhashSignature(a)
    assert(sa1.sameElements(sa2), "deterministic")
    val sb = Dedup.minhashSignature(b)
    val sc = Dedup.minhashSignature(c)
    val simAb = sa1.zip(sb).count { case (x, y) => x == y } / 64.0
    val simAc = sa1.zip(sc).count { case (x, y) => x == y } / 64.0
    assert(simAb > simAc, "near-dup pair must agree on more minhashes")
    assert(simAc == 0.0)
  }

  test("verifiedNearDups finds planted near-duplicates with correct jaccard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"), // near-dup of 1
      (3L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val pairs = Dedup.verifiedNearDups(spark, docs, 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs.head.doc_a == 1L && pairs.head.doc_b == 2L)
    // hand-computed 3-gram jaccard: 10 shingles each, 9 shared → 9/11
    assert(math.abs(pairs.head.jaccard - 9.0 / 11.0) < 1e-9)
  }

  test("simhash: identical → distance 0; near-dup small; unrelated large") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappax"
    val c = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    assert(Dedup.hamming(Dedup.simhash64(a), Dedup.simhash64(a)) == 0)
    val dAb = Dedup.hamming(Dedup.simhash64(a), Dedup.simhash64(b))
    val dAc = Dedup.hamming(Dedup.simhash64(a), Dedup.simhash64(c))
    assert(dAb < dAc, s"near-dup hamming $dAb must be < unrelated $dAc")
  }

  test("simhashNearDups finds exact duplicates via segment blocking") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (3L, "totally unrelated content with its own vocabulary set for blocking")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(spark, docs, maxDist = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("simhashNearDups: 10k identical docs cost O(N) pairs (exact pre-pass), capped buckets O(N)") {
    import spark.implicits._
    // 10k byte-identical docs share all 4 blocks — all-pairs would be ~4·N²
    // (2·10^8 pairs); the md5 pre-pass must collapse them to N-1 star edges
    val n = 10000
    val docs = (0 until n).map(i => (i.toLong, "identical boilerplate page body repeated verbatim across the whole mirror set"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(spark, docs, maxDist = 3).collect()
    assert(pairs.length == n - 1, s"star edges only, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(0) == 0L && r.getInt(2) == 0),
      "rep→member stars at hamming 0")
    // DISTINCT texts with IDENTICAL simhash (rotations of one bag of words —
    // simhash is order-free, md5 is not) defeat the pre-pass and share all 4
    // blocks: the bucket cap must bound pair work to star+chain
    val acc = spark.sparkContext.longAccumulator("capped-simhash")
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split(' ')
    val nearDocs = (0 until 60).map { i =>
      val rot = i % words.length
      (i.toLong, (words.drop(rot) ++ words.take(rot)).mkString(" ") + " " + words.mkString(" "))
    }.toDF("doc_id", "text")
    val capped = Dedup.simhashNearDups(spark, nearDocs, maxDist = 3, maxBucket = 10,
      cappedBuckets = Some(acc)).collect()
    assert(acc.value > 0L, "degenerate blocks must hit the cap")
    assert(capped.length <= 2 * 60 * 4, s"O(N) candidates per block, got ${capped.length}")
    assert(capped.nonEmpty, "star/chain candidates still verify")
  }

  test("unigram jaccard exact") {
    assert(Dedup.unigramJaccard("a b c", "a b c") == 1.0)
    assert(Dedup.unigramJaccard("a b c d", "a b c e") == 3.0 / 5.0)
    assert(Dedup.unigramJaccard("", "") == 0.0)
  }

  test("cosine + brute-force ANN: self-similar planted vector is rank 1") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val vecs = Seq(
      Similarity.Embedded(0L, base),
      Similarity.Embedded(1L, near),
      Similarity.Embedded(2L, Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)),
      Similarity.Embedded(3L, Array.tabulate(64)(i => ((i % 7) - 3).toFloat))
    ).toDS()
    val queries = Array(Similarity.Embedded(0L, base))
    val res = Similarity.bruteForceTopK(spark, vecs, queries, k = 3).collect()
      .sortBy(_.rank)
    assert(res.head.neighbor_id == 1L, "planted near vector must rank first")
    assert(res.head.cosine > 0.999)
    assert(res.map(_.rank).toSeq == Seq(1, 2, 3))
  }

  test("cosine math: orthogonal 0, opposite -1, zero-mag 0") {
    val x = Array(1f, 0f, 0f)
    val y = Array(0f, 1f, 0f)
    assert(Similarity.cosine(x, y) == 0.0)
    assert(Similarity.cosine(x, x.map(-_)) == -1.0)
    assert(Similarity.cosine(x, Array(0f, 0f, 0f)) == 0.0) // vector_exporter.rs:36-53
  }

  test("lshTopK recall vs brute force on real embeddings") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding"))
      .as[Similarity.Embedded]
    val queries = corpus.filter(_.vec_id < 5).collect().sortBy(_.vec_id)
    val exact = Similarity.bruteForceTopK(spark, corpus, queries, 5).collect()
      .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    val approx = Similarity.lshTopK(spark, corpus, queries, 5).collect()
      .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    // near-uniform random 64-dim vectors are the worst case for cosine LSH
    // (top-5 cosines ≈ 0.3); the gate is "bucketing beats chance", with the
    // candidate cut asserted separately below
    assert(mean >= 0.2, s"LSH mean recall $mean too low")
  }

  test("ivfTopK: perfect recall on planted clusters, deterministic") {
    import spark.implicits._
    // 8 well-separated clusters of 30 vectors: center = one-hot-ish basis
    // direction, members = center + small deterministic perturbation
    val vecs = (for {
      c <- 0 until 8
      m <- 0 until 30
    } yield {
      val v = new Array[Float](64)
      var i = 0
      while (i < 64) {
        val base = if (i % 8 == c) 1.0f else 0.0f
        v(i) = base + 0.05f * math.sin(c * 997 + m * 31 + i).toFloat
        i += 1
      }
      Similarity.Embedded((c * 30 + m).toLong, v)
    }).toDS().repartition(4)
    val queries = Array(0L, 35L, 190L).map(id =>
      vecs.filter(_.vec_id == id).collect().head)
    val exact = Similarity.bruteForceTopK(spark, vecs, queries, 5).collect()
      .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    val ivf = Similarity.ivfTopK(spark, vecs, queries, 5, nlist = 8, nprobe = 2)
      .collect()
    val approx = ivf.groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    exact.foreach { case (q, ids) =>
      val got = approx.getOrElse(q, Set.empty)
      assert(ids.subsetOf(got) || got == ids,
        s"query $q: planted-cluster IVF must recover exact top-5 (got $got want $ids)")
    }
    val ivf2 = Similarity.ivfTopK(spark, vecs, queries, 5, nlist = 8, nprobe = 2)
      .collect()
    assert(ivf.map(_.toString).sorted.sameElements(ivf2.map(_.toString).sorted),
      "IVF must be deterministic across runs")
  }

  test("ivfTopK recall vs brute force on real embeddings; candidate cut holds") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding"))
      .as[Similarity.Embedded]
    val queries = corpus.filter(_.vec_id < 5).collect().sortBy(_.vec_id)
    val exact = Similarity.bruteForceTopK(spark, corpus, queries, 5).collect()
      .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    val approx = Similarity.ivfTopK(spark, corpus, queries, 5, nlist = 16, nprobe = 4)
      .collect()
      .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    // same worst-case caveat as the LSH gate: near-uniform random vectors
    assert(mean >= 0.2, s"IVF mean recall $mean too low")
    // candidate cut: probed lists must hold well under the full corpus
    val centroids = Similarity.trainCentroids(spark, corpus, nlist = 16)
    val lists = Similarity.assignLists(spark, corpus, centroids)
    val total = lists.count()
    val sizes = lists.groupBy("list").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val biggestProbe = sizes.values.toSeq.sorted.reverse.take(4).sum
    assert(biggestProbe < total * 2 / 3,
      s"4 largest of 16 lists hold $biggestProbe/$total — quantizer degenerate")
  }

  test("assignLists partition layout prunes unprobed lists at the scan") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding"))
      .as[Similarity.Embedded]
    val centroids = Similarity.trainCentroids(spark, corpus, nlist = 8)
    val out = java.nio.file.Files.createTempDirectory("ivf-index").toString
    Similarity.assignLists(spark, corpus, centroids)
      .write.mode("overwrite").partitionBy("list").parquet(out)
    val probed = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("list").isin(0, 1))
    // partition pruning: the executed plan's scan must carry the partition
    // filter (only list=0/1 directories are read)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list"),
      s"expected partition filter on list in:\n$plan")
    val full = spark.read.parquet(out).count()
    val pruned = probed.count()
    assert(pruned < full, "probe subset must be a strict subset")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("cosineNearDups finds planted exact copies") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding"))
      .as[Similarity.Embedded]
    val plants = corpus.filter(_.vec_id < 10).map(e => e.copy(vec_id = e.vec_id + 1000L))
    val pairs = Similarity.cosineNearDups(spark, corpus.union(plants), 0.999).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach { id =>
      assert(found.contains((id, id + 1000L)), s"planted copy $id not found")
    }
  }

  test("cosineNearDups: a dense bucket is capped to star+chain, counted, still connected") {
    import spark.implicits._
    // 3000 identical embeddings: every vector's HOME bucket is the same one
    // (probes carry no home rows, so only that bucket emits) — all-pairs
    // would be ~4.5M comparisons; the cap must bound it to star+chain
    val dims = 16
    val v = Similarity.hyperplanes(dims, 1, seed = 9000L)(0)
    val corpus = spark.createDataset((0L until 3000L).map(i => Similarity.Embedded(i, v)))
    val acc = spark.sparkContext.longAccumulator("capped-cosine")
    val pairs = Similarity.cosineNearDups(spark, corpus, threshold = 0.999, bits = 8,
      dims = dims, maxBucket = 500, cappedBuckets = Some(acc)).collect()
    assert(acc.value >= 1L, "the dense home bucket must hit the cap")
    assert(pairs.length <= 2 * 3000, s"O(N) pairs, got ${pairs.length}")
    // star on the minimum keeps the cluster connected through vec 0
    assert(pairs.count(_.getLong(0) == 0L) == 2999, "anchor reaches every member")
    assert((1L until 2999L).forall(i => pairs.exists(r => r.getLong(0) == i && r.getLong(1) == i + 1)),
      "chain adjacency present")
  }

  test("SQ8 quantization: error bound holds per dimension; top-k recall survives re-rank") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding"))
      .as[Similarity.Embedded]
    val cb = Similarity.trainSq8(spark, corpus, dims = 64)
    // roundtrip error bound: |decode(encode(v)) - v| <= span/510 per dim
    val sample = corpus.take(50)
    sample.foreach { e =>
      val rt = cb.decode(cb.encode(e.embedding))
      e.embedding.indices.foreach { d =>
        assert(math.abs(rt(d) - e.embedding(d)) <= cb.errorBound(d) + 1e-6f,
          s"vec ${e.vec_id} dim $d out of bound")
      }
    }
    // deterministic training (min/max are order-free)
    val cb2 = Similarity.trainSq8(spark, corpus.repartition(7), dims = 64)
    assert(cb.mins.sameElements(cb2.mins) && cb.maxs.sameElements(cb2.maxs))
    // recall vs exact brute force with re-rank
    val queries = corpus.filter(_.vec_id < 10).collect().sortBy(_.vec_id)
    val exact = Similarity.bruteForceTopK(spark, corpus, queries, k = 5).collect()
      .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    val sq8 = Similarity.sq8TopK(spark, corpus, queries, k = 5).collect()
      .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    val recall = exact.keys.toSeq.map(q =>
      (sq8.getOrElse(q, Set.empty) intersect exact(q)).size.toDouble / exact(q).size).sum / exact.size
    assert(recall >= 0.9, f"SQ8+rerank recall $recall%.2f must be >= 0.9")
    // re-ranked cosines are EXACT (match brute-force values for shared hits)
    val exactCos = Similarity.bruteForceTopK(spark, corpus, queries, k = 5).collect()
      .map(n => (n.query_id, n.neighbor_id) -> n.cosine).toMap
    Similarity.sq8TopK(spark, corpus, queries, k = 5).collect().foreach { n =>
      exactCos.get((n.query_id, n.neighbor_id)).foreach(c =>
        assert(math.abs(c - n.cosine) < 1e-12, "re-rank uses true vectors"))
    }
  }

  test("PQ quantization: deterministic training; exact top-k reproduced after ADC + re-rank") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding"))
      .as[Similarity.Embedded]
    // deterministic training across partition layouts: the seed pick and
    // partition-id-ordered partial merge fix the FP addition order ONLY for
    // a fixed layout, so compare equal layouts (trainCentroids contract)
    val cb = Similarity.trainPq(spark, corpus, dims = 64)
    val cb2 = Similarity.trainPq(spark, corpus, dims = 64)
    val flat = (c: Similarity.PqCodebook) => c.centroids.flatMap(_.flatMap(_.toSeq))
    assert(flat(cb).sameElements(flat(cb2)), "repeated training must be bit-identical")
    // every code addresses a real centroid cell
    val sample = corpus.take(50)
    sample.foreach { e =>
      val code = cb.encode(e.embedding)
      assert(code.length == 8)
      code.foreach(b => assert((b & 0xff) < cb.centroids(0).length, "code within ksub"))
    }
    // ADC candidates + exact re-rank reproduce the exact brute-force top-k
    // (the property the q_ann_pq oracle pins at verify scale)
    val queries = corpus.filter(_.vec_id < 10).collect().sortBy(_.vec_id)
    val exact = Similarity.bruteForceTopK(spark, corpus, queries, k = 5).collect()
      .map(n => (n.query_id, n.rank) -> (n.neighbor_id, n.cosine)).toMap
    val pq = Similarity.pqTopK(spark, corpus, queries, k = 5).collect()
    assert(pq.length == exact.size, "same (query, rank) coverage")
    pq.foreach { n =>
      val (eid, ecos) = exact((n.query_id, n.rank))
      assert(n.neighbor_id == eid, s"q${n.query_id} rank ${n.rank}: ${n.neighbor_id} != $eid")
      assert(math.abs(n.cosine - ecos) < 1e-12, "re-rank uses true vectors")
    }
  }

  test("joint IVF+PQ training is bit-equal to trainCentroids + trainPq, at 1 and 4 partitions") {
    import spark.implicits._
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding"))
      .as[Similarity.Embedded]
    val bits = (a: Array[Array[Float]]) => a.flatMap(_.map(java.lang.Float.floatToRawIntBits))
    Seq(1, 4).foreach { parts =>
      // a fixed layout per case: the bit-identity contract is per layout
      val corpus = raw.repartition(parts).localCheckpoint()
      assert(corpus.rdd.getNumPartitions == parts)
      // nlist < ksub and nlist > ksub: the shared seed collect serves both
      Seq((16, 256), (24, 8)).foreach { case (nlist, ksub) =>
        val (ivf, pq) = Similarity.trainIvfPq(spark, corpus, nlist, dims = 64, m = 8, ksub = ksub)
        val ivf1 = Similarity.trainCentroids(spark, corpus, nlist)
        val pq1 = Similarity.trainPq(spark, corpus, dims = 64, m = 8, ksub = ksub)
        assert(ivf.length == math.min(nlist, corpus.count()))
        assert(bits(ivf).sameElements(bits(ivf1)), s"IVF centroids differ at $parts partitions")
        assert(pq.m == pq1.m && pq.dsub == pq1.dsub)
        assert(pq.centroids.length == pq1.centroids.length)
        pq.centroids.indices.foreach { s =>
          assert(bits(pq.centroids(s)).sameElements(bits(pq1.centroids(s))),
            s"PQ subspace $s differs at $parts partitions (nlist=$nlist, ksub=$ksub)")
        }
      }
    }
  }

  test("ivfPqTopK: planted clusters recovered exactly; scan = IVF's pruning at 32x smaller rows") {
    import spark.implicits._
    // same planted-cluster universe as the ivfTopK gate
    val vecs = (for {
      c <- 0 until 8
      m <- 0 until 30
    } yield {
      val v = new Array[Float](64)
      var i = 0
      while (i < 64) {
        val base = if (i % 8 == c) 1.0f else 0.0f
        v(i) = base + 0.05f * math.sin(c * 997 + m * 31 + i).toFloat
        i += 1
      }
      Similarity.Embedded((c * 30 + m).toLong, v)
    }).toDS().repartition(4)
    val queries = Array(0L, 35L, 190L).map(id =>
      vecs.filter(_.vec_id == id).collect().head)
    val exact = Similarity.bruteForceTopK(spark, vecs, queries, 5).collect()
      .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    val cands = spark.sparkContext.longAccumulator("ivfpq-test-cands")
    val got = Similarity.ivfPqTopK(spark, vecs, queries, 5, nlist = 8, nprobe = 2,
      candidateCount = Some(cands)).collect()
    val approx = got.groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    exact.foreach { case (q, ids) =>
      assert(approx.getOrElse(q, Set.empty) == ids,
        s"query $q: planted-cluster IVF-PQ + exact re-rank must recover exact top-5")
    }
    // the scan is IVF-pruned: ADC-scored pairs stay well under all-pairs
    val allPairs = (vecs.count() - 1) * queries.length
    assert(cands.value < allPairs / 2,
      s"IVF-PQ scored ${cands.value} of $allPairs pairs — pruning not engaged")
    // and the composition is deterministic across runs
    val got2 = Similarity.ivfPqTopK(spark, vecs, queries, 5, nlist = 8, nprobe = 2).collect()
    assert(got.map(_.toString).sorted.sameElements(got2.map(_.toString).sorted),
      "IVF-PQ must be deterministic across runs")
  }

  test("ivfPqTopK recall on real embeddings >= plain IVF at the same probe budget") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("embedding"))
      .as[Similarity.Embedded]
    val queries = corpus.filter(_.vec_id < 5).collect().sortBy(_.vec_id)
    val exact = Similarity.bruteForceTopK(spark, corpus, queries, 5).collect()
      .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    def recallOf(ns: Array[Similarity.Neighbor]): Double = {
      val m = ns.groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
      exact.map { case (q, ids) =>
        m.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
      }.sum / exact.size
    }
    val ivf = recallOf(Similarity.ivfTopK(spark, corpus, queries, 5,
      nlist = 16, nprobe = 4).collect())
    val ivfpq = recallOf(Similarity.ivfPqTopK(spark, corpus, queries, 5,
      nlist = 16, nprobe = 4).collect())
    // identical centroid pruning + an exact re-rank over the ADC shortlist:
    // in practice composition loses no recall, but ADC quantization error
    // CAN rank a true neighbor below the shortlist cut within a partition,
    // so strict dominance is empirical, not structural — allow one
    // neighbor's worth of slack (1/(k·queries)) rather than a brittle
    // exact-dominance claim sensitive to data/rerank-width/partitioning
    assert(ivfpq >= ivf - 1.0 / (5 * queries.length) - 1e-9,
      s"IVF-PQ recall $ivfpq fell below plain IVF's $ivf beyond shortlist-cut slack")
  }

  test("exact-dup pre-pass: 10k identical docs cost O(N) edges, keep-list intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a mirror-farm cluster: 10,000 byte-identical documents. Without the
    // md5 pre-pass these land in the same LSH bucket in all 16 bands and
    // enumerate ~8×10^8 candidate pairs; with it, one representative reaches
    // LSH and the rest link via N-1 exact star edges.
    val n = 10000
    val identical = spark.range(n).select(col("id").as("doc_id"),
      lit("the same boilerplate page text repeated across the whole mirror farm cluster today").as("text"))
    val others = Seq(
      (20000L, "some totally different document content about rivers and mountains"),
      (20001L, "another unrelated document covering compilers and type systems")).toDF("doc_id", "text")
    val docs = identical.union(others)
    val pairs = Dedup.verifiedNearDups(spark, docs, 0.5).collect()
    assert(pairs.length == n - 1, s"expected ${n - 1} star edges, got ${pairs.length}")
    assert(pairs.forall(p => p.doc_a == 0L && p.jaccard == 1.0), "exact edges anchor at the group min")
    val keep = Dedup.dedupKeepList(spark, docs, 0.5).collect()
    assert(keep.filter(_.getLong(0) < n).forall(_.getLong(1) == 0L), "identical docs all keep doc 0")
    assert(keep.count(r => r.getBoolean(2)) == 3, "doc 0 + the two uniques are kept")
  }

  test("candidatePairs bucket cap: oversized bucket emits a counted star, small buckets full pairs") {
    import spark.implicits._
    val big = spark.createDataset((0L until 50L).map(id => Dedup.BandBucket(id, 0, 42L)))
    val acc = spark.sparkContext.longAccumulator("graft-capped-buckets")
    val capped = Dedup.candidatePairs(spark, big, maxBucket = 10, cappedBuckets = Some(acc)).collect()
    // star (49 pairs on min) + adjacent chain (49 pairs), (0,1) shared → 97
    assert(capped.length == 97, s"star+chain distinct pairs, got ${capped.length}")
    assert(capped.count(_.a == 0L) == 49, "star on the bucket minimum (chain (0,1) deduped)")
    assert((1L until 49L).forall(i => capped.exists(p => p.a == i && p.b == i + 1)), "chain present")
    assert(acc.value == 1L)
    val small = spark.createDataset((0L until 5L).map(id => Dedup.BandBucket(id, 0, 42L)))
    assert(Dedup.candidatePairs(spark, small).collect().length == 10, "under the cap: all pairs")
  }

  test("cosineNearDups multi-probe: a true near-dup one hyperplane sign apart is found") {
    import spark.implicits._
    val dims = 64
    val bits = 16
    val planes = Similarity.hyperplanes(dims, bits)
    // deterministically construct a boundary pair: reflect a base vector
    // across its least-aligned hyperplane — flips exactly that sign bit while
    // keeping cosine high (cos = 1 - 2·cos²α with α ≈ 90°)
    val found = (1 to 40).view.map { seed =>
      val v = Similarity.hyperplanes(dims, 1, seed = 1000L + seed)(0)
      val skV = Similarity.signSketch(v, planes)
      val i = planes.indices.minBy(i =>
        math.abs(Similarity.dot(v, planes(i))) / Similarity.norm(planes(i)))
      val p = planes(i)
      val c = (2.0 * Similarity.dot(v, p) / Similarity.dot(p, p)).toFloat
      val v2 = v.zip(p).map { case (a, b) => a - c * b }
      val skV2 = Similarity.signSketch(v2, planes)
      (v, v2, java.lang.Long.bitCount(skV ^ skV2), Similarity.cosine(v, v2))
    }.find { case (_, _, hamming, cos) => hamming == 1 && cos >= 0.95 }
    assert(found.isDefined, "construction must yield a 1-bit-apart high-cosine pair")
    val (v, v2, _, _) = found.get
    val filler = (10L until 20L).map(i =>
      Similarity.Embedded(i, Similarity.hyperplanes(dims, 1, seed = 2000L + i)(0)))
    val corpus = spark.createDataset(Seq(Similarity.Embedded(1L, v), Similarity.Embedded(2L, v2)) ++ filler)
    val pairs = Similarity.cosineNearDups(spark, corpus, threshold = 0.95, bits = bits, dims = dims)
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "1-bit multi-probe must compare the boundary pair exact blocking misses")
    assert(pairs.count(r => r.getLong(0) == 1L && r.getLong(1) == 2L) == 1, "pair enumerated once")
  }

  test("connectedComponents: multi-hop chains collapse to the component minimum (both paths)") {
    import spark.implicits._
    // components: {1,2,3,9} via chain 9-3, 3-2, 2-1; {5,6}; {7,8}
    val pairs = Seq((9L, 3L), (3L, 2L), (2L, 1L), (5L, 6L), (8L, 7L))
      .toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L)
    // driver union-find fast path (default cap)
    val fast = Dedup.connectedComponents(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == want)
    // distributed min-label loop (cap 0 forces it) must agree exactly
    val dist = Dedup.connectedComponents(spark, pairs, driverEdgeCap = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == want, "distributed path must match the union-find result")
  }

  test("connectedComponents paths agree on a larger random graph") {
    import spark.implicits._
    // deterministic pseudo-random graph: 400 nodes, 300 edges
    val edges = (0 until 300).map { i =>
      val a = (i * 2654435761L % 400L).abs
      val b = ((i + 131) * 40503L % 400L).abs
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val pairs = edges.toDF("doc_a", "doc_b")
    val fast = Dedup.connectedComponents(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(spark, pairs, driverEdgeCap = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
  }

  test("connectedComponents: a 200-hop chain collapses to its minimum on the distributed path") {
    import spark.implicits._
    // deeper than any fixed round budget a min-label loop would carry: the
    // distributed path must converge, not throw, and label all 201 docs 0
    val pairs = (0L until 200L).map(i => (i + 1, i)).toDF("doc_a", "doc_b")
    val dist = Dedup.connectedComponents(spark, pairs, driverEdgeCap = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == (0L to 200L).map(_ -> 0L).toMap)
  }

  test("dedupKeepList: exact + near dups collapse transitively; uniques keep themselves") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"), // near-dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"), // exact dup of 2
      (4L, "one two three four five six seven eight nine ten eleven twelve"),     // unique
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")  // exact dup of 1
    ).toDF("doc_id", "text")
    val keep = Dedup.dedupKeepList(spark, docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    // 1,2,3,5 form ONE component (1-2 near, 2-3 exact, 1-5 exact) → keep 1
    assert(keep.toSeq == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 1L, false)))
  }

  test("labelCentroids: deterministic, 10 labels x 64 dims") {
    // micro-quantized per-label centroids over the real table: stable
    val a = Similarity.labelCentroids(spark, sfDir).collect().map(_.toString)
    val b = Similarity.labelCentroids(spark, sfDir).collect().map(_.toString)
    assert(a.sameElements(b))
    assert(a.length == 10 * 64, "10 labels x 64 dims")
  }

  test("winnowing: deterministic, guarantee holds, partial copies flagged") {
    import spark.implicits._
    // determinism + normalization insensitivity
    val t = "The quick brown fox jumps over the lazy dog near the river bank today."
    assert(Dedup.winnowFingerprints(t) == Dedup.winnowFingerprints(t))
    assert(Dedup.winnowFingerprints(t) ==
      Dedup.winnowFingerprints(t.toUpperCase.replace(" ", "  ")),
      "case and whitespace must not change fingerprints")
    // SWA03 guarantee: a shared substring of >= w+k-1 normalized chars
    // yields at least one shared fingerprint
    val sharedCore = "zxqvwjkyzxqvmnbp" // 16 >= WinnowW + WinnowK - 1 = 8
    val a = "aaaa bbbb " + sharedCore + " cccc dddd"
    val b = "eeee ffff " + sharedCore + " gggg hhhh"
    assert(Dedup.winnowFingerprints(a).intersect(Dedup.winnowFingerprints(b)).nonEmpty,
      "guaranteed shared fingerprint missing")
    // unrelated texts share ~nothing
    val u1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val u2 = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    assert(Dedup.winnowFingerprints(u1).intersect(Dedup.winnowFingerprints(u2)).isEmpty)
    // Spark path: planted CONTAINED copy found with high containment
    val core = "the central copied paragraph with highly specific vocabulary " +
      "sequences pangolin quartz viaduct mosaic lantern harbor citadel"
    val docsDf = Seq(
      (1L, core),
      (2L, "completely different opening words here. " + core + " and a different ending too."),
      (3L, "independent document about other topics entirely with its own words galaxy nebula comet")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlaps(spark, docsDf, minShared = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.contains((1L, 2L)), "contained copy must be flagged")
    assert(pairs((1L, 2L)) > 0.8, s"containment should be high, got ${pairs((1L, 2L))}")
    assert(!pairs.keySet.exists { case (x, y) => x == 3L || y == 3L })
  }

  test("winnowOverlaps spill-to-table path equals the localCheckpoint default") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today with extra padding words here"),
      (2L, "prefix words then the quick brown fox jumps over the lazy dog again and again today trailing"),
      (3L, "completely different content sharing nothing with the others at all in any window")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-winnow-spill").toString
    def k(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val default = Dedup.winnowOverlaps(spark, docs).collect().map(k).sortBy(x => (x._1, x._2))
    val spilled = Dedup.winnowOverlaps(spark, docs, spillDir = Some(s"$dir/overlaps"))
      .collect().map(k).sortBy(x => (x._1, x._2))
    assert(spilled.toSeq == default.toSeq, "durable path must produce identical overlaps")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/overlaps")))
  }

  test("winnowing guarantee property: random texts sharing a >= w+k-1 substring share a fingerprint") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    var seed = Seed(42L)
    def sample[A](g: Gen[A]): A = {
      seed = seed.next
      g.apply(Gen.Parameters.default, seed).get
    }
    val word = Gen.choose(3, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val text = Gen.choose(3, 20).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val minShared = Dedup.WinnowW + Dedup.WinnowK - 1 // 8 normalized chars
    (1 to 200).foreach { _ =>
      val core = sample(Gen.listOfN(3, word).map(_.mkString(" ")))
      if (core.count(_.isLetterOrDigit) >= minShared) {
        val a = sample(text) + " " + core + " " + sample(text)
        val b = sample(text) + " " + core + " " + sample(text)
        val fa = Dedup.winnowFingerprints(a)
        val fb = Dedup.winnowFingerprints(b)
        assert(fa.intersect(fb).nonEmpty,
          s"guarantee violated for shared core '$core' in\nA=$a\nB=$b")
      }
    }
  }

  test("incrementalAdmit: every planted batch doc meets its fate; mirror-farm batch is O(N)") {
    import org.apache.spark.sql.functions._
    val P = DedupQueries.PlantOffset
    val rows = DedupQueries.incrementalDedup(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("admitted"), r.getAs[String]("reason"),
          Option(r.getAs[java.lang.Long]("match_doc_id")).map(_.longValue),
          Option(r.getAs[java.lang.Long]("jaccard_milli")).map(_.longValue))).toMap
    assert(rows.size == 47, s"25 near + 10 exact + 10 new + 2 twins, got ${rows.size}")
    (0L until 25L).foreach { i =>
      val (adm, reason, m, j) = rows(P + i)
      assert(adm == 0 && reason == "near", s"near plant $i: ${rows(P + i)}")
      assert(m.contains(i), s"near plant $i must match its original, got $m")
      assert(j.exists(_ >= 500L), s"near plant $i jaccard above threshold: $j")
    }
    (25L until 35L).foreach { i =>
      val (adm, reason, m, j) = rows(2 * P + i)
      assert(adm == 0 && reason == "exact" && m.contains(i) && j.contains(1000L),
        s"exact plant $i: ${rows(2 * P + i)}")
    }
    (35L until 45L).foreach { i =>
      val (adm, reason, m, j) = rows(3 * P + i)
      assert(adm == 1 && reason == "new" && m.isEmpty && j.isEmpty,
        s"reversed doc $i is genuinely new: ${rows(3 * P + i)}")
    }
    assert(rows(4 * P) == ((1, "new", None, None)), "twin min id admits")
    assert(rows(4 * P + 1) == ((0, "batch_exact", Some(4 * P), Some(1000L))),
      "twin rejects against its in-batch representative")
    // mirror-farm batch: 10k identical docs against a small corpus must
    // resolve via the batch-internal md5 stage (one survivor reaches LSH),
    // never 10k² candidate work — completing at all IS the gate here, plus
    // exactly one admitted survivor
    import spark.implicits._
    val farm = spark.range(10000).select((col("id") + 5 * P).as("doc_id"),
      lit("the same boilerplate page text repeated across the whole mirror farm cluster today").as("text"))
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val admitted = Dedup.incrementalAdmit(spark, corpus, farm, 0.5)
      .groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(admitted("batch_exact") == 9999L && admitted.getOrElse("new", 0L) == 1L,
      s"one farm survivor admits, the rest reject in-batch: $admitted")
  }

  test("DedupQueries are deterministic across two runs") {
    val a = DedupQueries.minhashLsh(spark, sfDir).collect().map(_.toString)
    val b = DedupQueries.minhashLsh(spark, sfDir).collect().map(_.toString)
    assert(a.sameElements(b))
    val p1 = DedupQueries.minhashNearDup(spark, sfDir).collect().length
    assert(p1 >= 25, "all 25 planted near-dups (and only near-dups) must surface")
  }
}
