package graft

import graft.core.Catalog
import graft.ext._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("quantized cosine ~ true cosine and self-cosine ~ 1") {
    val df = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (Array(3.0f, 4.0f, 0.0f), Array(3.0f, 4.0f, 0.0f))
    ).toDF("a", "b")
    val out = df.select(VectorOps.cosine(col("a"), col("b")).as("c")).collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 1.0) < 1e-6)
    assert(math.abs(out(1)) < 1e-6)
    assert(math.abs(out(2) - 1.0) < 1e-6)
  }

  test("ANN LSH: recall@5 vs brute force >= 0.5 at the default geometry; scores exact") {
    val e = Catalog(spark, sf).embeddings.cache()
    val cand = AnnLsh.candidatePairs(e).cache()
    assert(cand.count() > 0)
    val q = e.filter(col("vec_id") < 10)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val lsh = AnnLsh.topK(e, q, 5)
    val got = ids(lsh)
    val want = ids(graft.queries.ExtensionQueries.bruteTopK(e, q, 5))
    assert(want.nonEmpty)
    // deterministic (fixed md5 planes, fixed data): 0.62 measured at
    // sf0.001/sf0.01; the floor catches a geometry or code regression
    val recall = got.intersect(want).size.toDouble / want.size
    assert(recall >= 0.5, s"LSH recall@5 = $recall")
    assert(lsh.collect().forall(r => r.getAs[Double]("cosine") <= 1.0 + 1e-9))
    cand.unpersist(); e.unpersist()
  }

  test("ANN LSH candidatePairs: stop-bucket cap drops hot buckets") {
    // identical vectors collapse into ONE (band, code) bucket per band —
    // the skew shape the cap exists for
    val v = Array.tabulate(64)(d => (d % 7).toFloat - 3f)
    val hot = (0L until 60L).map(i => (i, v)).toDF("vec_id", "embedding")
    assert(AnnLsh.candidatePairs(hot, bucketCap = 50).count() == 0L)
    assert(AnnLsh.candidatePairs(hot, bucketCap = 60).count() == 60L * 59 / 2)
  }

  test("IVF ANN: recall@5 vs brute force is substantial; scores are exact") {
    val e = Catalog(spark, sf).embeddings.cache()
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val ivf = AnnIvf.topK(e, q, 5)
    val brute = graft.queries.ExtensionQueries.bruteTopK(e, q, 5)
    val got = pairs(ivf)
    val want = pairs(brute)
    assert(want.nonEmpty)
    val recall = got.intersect(want).size.toDouble / want.size
    assert(recall >= 0.3, s"IVF recall@5 = $recall")
    // the deterministic integer-grid Lloyd fit (the hash-gated s3 path)
    // must hold the same recall floor as the ML k-means fit — hash-gating
    // proves the fit replays, this proves the cells it finds are GOOD
    val lloyd = pairs(AnnIvf.topKLloyd(e, q, 5))
    val lloydRecall = lloyd.intersect(want).size.toDouble / want.size
    assert(lloydRecall >= 0.3, s"Lloyd-IVF recall@5 = $lloydRecall")
    e.unpersist()
  }

  test("Lloyd fit: a corpus smaller than nCells fits fewer cells and stays exact") {
    // 5 vectors, 16 requested cells: the fit must seed 5 cells (never
    // index past the seed array), and with nProbe covering every cell
    // the IVF path degenerates to exact brute force
    val tiny = (0L until 5L)
      .map(i => (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11).toFloat / 11f)))
      .toDF("vec_id", "embedding")
    val cents = AnnIvf.lloydCentroidsQ(tiny, nCells = 16)
    assert(cents.length == 5, s"expected 5 cells, got ${cents.length}")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val got = pairs(AnnIvf.topKLloyd(tiny, tiny, k = 4, nCells = 16, nProbe = 16))
    val want = pairs(graft.queries.ExtensionQueries.bruteTopK(tiny, tiny, 4))
    assert(got == want, s"tiny-corpus Lloyd IVF diverged from brute force: $got vs $want")
  }

  test("PQ ANN: shortlist+rescore recall@5 vs brute force >= 0.5; encode is exchange-free") {
    val e = Catalog(spark, sf).embeddings.cache()
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val cb = AnnPq.fixedCodebooks(e)
    val got = pairs(AnnPq.topK(e, q, 5, cb))
    val want = pairs(graft.queries.ExtensionQueries.bruteTopK(e, q, 5))
    assert(want.nonEmpty)
    // deterministic (fixed codebooks, fixed data): 0.88 at sf0.001, 0.72
    // at sf0.01 — the floor catches an encode/ADC/shortlist regression
    val recall = got.intersect(want).size.toDouble / want.size
    assert(recall >= 0.5, s"PQ recall@5 = $recall")
    // the encode stage (the 100-TB write path for the code column) must
    // stay one narrow projection, like IVF assign
    val p = AnnPq.encode(e, cb).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"PQ encode shuffles:\n$p")
    assert(!p.contains("Join"), s"PQ encode joins:\n$p")
    e.unpersist()
  }

  test("incremental dedup: cross pairs only — existing and arriving dups stay silent") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val existing = Seq(
      (1L, base),
      (2L, base + "!"),                                     // existing x existing dup: NOT emitted
      (3L, "completely different content with nothing shared at all here")
    ).toDF("doc_id", "text")
    val arriving = Seq(
      (10L, base + "?"),                                    // dups existing 1 and 2: emitted
      (11L, "fresh unique arrival text with no partner anywhere"),
      (12L, "fresh unique arrival text with no partner anywhere!")  // arriving x arriving: NOT emitted
    ).toDF("doc_id", "text")
    val got = MinHashDedup.crossPairs(existing, arriving, 5, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 10L)), got.toString)
  }

  test("IVF x PQ composition: recall@5 vs brute force >= 0.6") {
    val e = Catalog(spark, sf).embeddings.cache()
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val got = pairs(AnnPq.ivfPqTopK(e, q, 5,
      AnnIvf.fixedCentroids(e, 16), AnnPq.fixedCodebooks(e)))
    val want = pairs(graft.queries.ExtensionQueries.bruteTopK(e, q, 5))
    assert(want.nonEmpty)
    // deterministic (fixed centroids + codebooks, fixed data): 0.90 at
    // sf0.001, 0.84 at sf0.01 — cells bound the scan, the k x 10 ADC
    // shortlist covers probed cells densely, so the composition recalls
    // BETTER than the corpus-wide PQ scan at the same shortlist size
    val recall = got.intersect(want).size.toDouble / want.size
    assert(recall >= 0.6, s"IVF-PQ recall@5 = $recall")
    e.unpersist()
  }

  test("minhash signature similarity estimates Jaccard for near-identical docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely different content with nothing shared at all here")
    ).toDF("doc_id", "text")
    val sigs = MinHashDedup.signatureStrings(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(",")).toMap
    def est(a: Array[String], b: Array[String]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    assert(est(sigs(1L), sigs(2L)) > 0.6)   // near-dup
    assert(est(sigs(1L), sigs(3L)) < 0.3)   // unrelated
  }

  test("bucket histogram: exact counts on a crafted corpus; volume bounds the pair stage") {
    // three identical docs: every one of the 16 bands has ONE bucket of
    // size 3 -> histogram is a single (3, 16, 48, not-dropped) row
    val trip = Seq.tabulate(3)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val h = MinHashDedup.candidateBucketHistogram(trip).collect()
    assert(h.length == 1)
    assert(h.head.getAs[Long]("bucket_size") == 3L)
    assert(h.head.getAs[Long]("n_buckets") == 16L)
    assert(h.head.getAs[Long]("candidate_pairs") == 48L)
    assert(!h.head.getAs[Boolean]("dropped_by_cap"))
    // real corpus: surviving (un-dropped) raw volume upper-bounds the
    // distinct candidate set the pair generator emits
    val docs = Catalog(spark, sf).documents
    val hist = MinHashDedup.candidateBucketHistogram(docs, 5, 50).collect()
    val surviving = hist.filter(!_.getAs[Boolean]("dropped_by_cap"))
      .map(_.getAs[Long]("candidate_pairs")).sum
    assert(surviving >= MinHashDedup.candidatePairs(docs, 5, 50).count())
    // a cap of 1 drops every multi-member bucket
    assert(MinHashDedup.candidateBucketHistogram(trip, 5, 1)
      .collect().forall(r => r.getAs[Boolean]("dropped_by_cap") ||
        r.getAs[Long]("bucket_size") <= 1))
  }

  test("simhash: identical docs share fingerprints; near-dups are close in Hamming") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val fps = SimHash.fingerprints(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(fps(1L) == fps(2L))
    assert(ham(fps(1L), fps(3L)) < ham(fps(1L), fps(4L)))
    assert(fps.values.forall(_.length == 64))
  }

  test("simhash blockLayout: maxHamming+1 blocks tile all 64 bits") {
    for (h <- Seq(0, 3, 8, 15, 63)) {
      val layout = SimHash.blockLayout(h)
      assert(layout.size == h + 1)
      assert(layout.map(_._2).sum == 64)
      assert(layout.forall(_._2 >= 1))
      // contiguous, non-overlapping tiling
      assert(layout.scanLeft(0)((acc, b) => acc + b._2).init == layout.map(_._1))
    }
  }

  test("simhash pairs: pigeonhole recall is exhaustive to maxHamming=8 (vs brute force)") {
    val docs = Catalog(spark, sf).documents
    // uncapped: pure pigeonhole — every pair with Hamming <= 8 MUST appear
    val got = SimHash.pairs(docs, maxHamming = 8, bucketCap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fps = SimHash.fingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val want = (for {
      i <- fps.indices.iterator
      j <- (i + 1) until fps.length
      h = fps(i)._2.zip(fps(j)._2).count { case (x, y) => x != y }
      if h <= 8
    } yield (fps(i)._1, fps(j)._1, h)).toSet
    assert(got == want, s"pigeonhole missed ${(want -- got).size} pairs / invented ${(got -- want).size}")
    // the old fixed-4-block scheme only guaranteed Hamming <= 3; the B=9
    // layout must also be exhaustive in the 4..8 band when such pairs exist
    val deep = want.filter(_._3 > 3)
    assert(deep.subsetOf(got))
  }

  test("charNgrams: short/exact-length/empty texts are safe") {
    val df = Seq((1L, ""), (2L, "abc"), (3L, "abcde"), (4L, "abcdef")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), NgramJaccard.charNgrams(col("text"), 5).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L) == Seq("abcde"))
    assert(out(4L) == Seq("abcde", "bcdef"))
  }

  test("banded ngram pairs are a subset of exhaustive pairs; dups always collide") {
    val docs = Catalog(spark, sf).documents
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exhaustive = keyed(NgramJaccard.pairs(docs, 5, 0.3))
    val banded = keyed(NgramJaccard.pairsBanded(docs, 5, 0.3))
    assert(banded.subsetOf(exhaustive),
      s"banding invented pairs: ${banded -- exhaustive}")
    // identical texts have identical signatures -> collide in every band:
    // the high-similarity end must never be lost to the prefilter
    val exactDups = keyed(NgramJaccard.pairs(docs, 5, 0.999))
    assert(exactDups.subsetOf(banded),
      s"banding lost exact dups: ${exactDups -- banded}")
  }

  test("connected components: chains collapse to one cluster under min label") {
    val docs = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // chain 1-2-3, pair 5-6, singleton 4
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val comp = DedupClusters.components(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(4L) == 4L)
    assert(comp(5L) == 5L && comp(6L) == 5L)
  }

  test("exact dedup groups duplicates under one representative") {
    val docs = Seq((5L, "same text"), (9L, "same text"), (7L, "other")).toDF("doc_id", "text")
    val g = ExactDedup.groups(docs).collect()
    assert(g.length == 2)
    val dup = g.find(_.getAs[Long]("n_dups") == 2L).get
    assert(dup.getAs[Long]("rep_doc_id") == 5L)
    assert(ExactDedup.dedup(docs).count() == 2)
  }

  test("multimodal stub decode is deterministic and partition-invariant") {
    val docs = Catalog(spark, sf).documents
    val once = Multimodal.decodeFeatures(Multimodal.withPayload(docs)).collect().toSet
    val repart = Multimodal.decodeFeatures(
      Multimodal.withPayload(docs.repartition(7))).collect().toSet
    assert(once == repart && once.nonEmpty)
  }

  test("HLL: registers merge distributively; estimate lands in the error band") {
    val keys = (1 to 4000).map(i => s"key-$i").toDF("key")
    // sharded build + per-bucket max == single build (the merge contract)
    val whole = HyperLogLog.registers(keys, "key").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toMap
    val shardA = HyperLogLog.registers(keys.filter(length(col("key")) % 2 === 0), "key")
    val shardB = HyperLogLog.registers(keys.filter(length(col("key")) % 2 =!= 0), "key")
    val merged = shardA.union(shardB)
      .groupBy(col("bucket")).agg(max(col("rho")).as("rho")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(merged == whole, "sharded max-merge diverged from the single build")
    // raw HLL on 4000 keys / 256 registers: ~6.5% std error; 4 sigma band
    val est = HyperLogLog.estimate(keys, "key").collect()(0)
      .getAs[Double]("hll_estimate")
    assert(math.abs(est / 4000.0 - 1.0) < 0.26, s"estimate $est too far from 4000")
  }

  test("PageRank: integer fixed-point matches a hand-rolled reference loop exactly") {
    // 1 -> {2,3}, 2 -> 1, 3 -> 2 (+ a parallel 3 -> 2 edge: multiplicity
    // must weight the walk, not collapse)
    val edgeSeq = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 2L), (3L, 2L))
    val got = PageRank.ranks(edgeSeq.toDF("src", "dst"), iterations = 5, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val scale = 1000000000000L
    val nodes = Seq(1L, 2L, 3L)
    val outdeg = edgeSeq.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank = nodes.map(_ -> scale / 3).toMap
    for (_ <- 1 to 5) {
      val in = edgeSeq
        .map { case (s, d) => d -> rank(s) / outdeg(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      rank = nodes.map(v =>
        v -> ((scale * 15) / (100 * 3) + 85 * in.getOrElse(v, 0L) / 100)).toMap
    }
    assert(got == rank, s"engine $got vs reference $rank")
    // mass stays on the integer grid: positive everywhere, never above
    // the total (floors only ever lose quanta)
    assert(rank.values.forall(_ > 0) && rank.values.sum <= scale)
  }

  test("Triangles: oriented count matches brute force; noise edges discarded") {
    import graft.ext.Triangles
    // K4 on 1..4 (4 triangles, each node in 3) + a star at 9 (no
    // triangles) + a pendant triangle 5-6-7, fed as noisy directed
    // multi-edges: duplicates, both directions, self-loops
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L),
      (9L, 10L), (9L, 11L), (9L, 12L), (9L, 13L))
    val noisy = und ++ und.map(_.swap) ++ Seq((1L, 2L), (9L, 9L), (6L, 5L))
    val got = Triangles.perNode(noisy.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L, 7L -> 1L))

    // the web-scale closure branch (partitioned semi-join, no driver
    // Bloom literal — auto-selected past bloomLiteralMaxEdges oriented
    // edges) must agree row-for-row with the Bloom form on the same
    // noisy graph: same orientation, same wedge set, only the prune
    // mechanism differs
    val semi = Triangles.perNodeSemiJoinClosure(noisy.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(semi == got, s"semi-join closure diverged: $semi vs $got")

    // the broadcast-variable Bloom pre-prune form (the candidate in
    // bench_records/r13_closure_prune_probe.json) must also agree row-for-
    // row: same sketch, broadcast var vs plan literal, semi-join verify
    val bcast = Triangles.perNodeBroadcastBloomClosure(noisy.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bcast == got, s"broadcast-bloom closure diverged: $bcast vs $got")
  }

  test("FuzzyJoin: finds substitution AND indel-shift pairs; cap drops stopword blocks") {
    import graft.ext.FuzzyJoin
    val base = "the quick brown fox jump"           // 24 chars
    val sub2 = "the quack brewn fox jump"           // 2 substitutions -> ed 2
    val shift = "thequick brown fox jumpX"          // 1 del + 1 ins at ends -> ed 2
    val far = "zebra zebra zebra zebraz"            // unrelated
    val short = "tiny"                              // below prefix -> excluded
    val docs = Seq((1L, base), (2L, sub2), (3L, shift), (4L, far), (5L, short))
      .toDF("doc_id", "text")
    val got = FuzzyJoin.editDistancePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 2L), (1L, 3L, 2L)),
      s"expected the substitution pair and the indel-shift pair, got $got")

    // stop-bucket cap: all five boilerplate docs share segments 0 and 1
    // ("SHAREDSE", "G0000000") and differ only in the last digit, so
    // every pair is ed 1 — but ONLY the shared segments generate their
    // candidates. With cap 3 those blocks are dropped: zero pairs out.
    val boiler = (1L to 5L).map(i => (i, f"SHAREDSEG$i%015d")).toDF("doc_id", "text")
    assert(FuzzyJoin.editDistancePairs(boiler, bucketCap = 100).count() == 10L)
    assert(FuzzyJoin.editDistancePairs(boiler, bucketCap = 3).count() == 0L)
  }

  test("ContainmentJoin: prefix filter is complete vs brute force; asymmetry holds") {
    import graft.ext.ContainmentJoin
    // doc 1 is a verbatim excerpt of doc 2 (containment 1->2 = 100%);
    // doc 2 is NOT contained in doc 1 (it has many extra grams); doc 3
    // shares nothing. Grams are word 3-grams.
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (11 to 22).map(i => s"w$i").mkString(" ")
    val other = (100 to 130).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, excerpt), (2L, long), (3L, other)).toDF("doc_id", "text")
    val got = ContainmentJoin.pairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(got == Set((1L, 2L, 100L)), s"expected only 1-contained-in-2, got $got")

    // completeness at the threshold: operator pairs == brute-force pairs
    // on a corpus with partial overlaps straddling the 80% gate
    val base = (1 to 20).map(i => s"b$i")
    val corpus = (0L to 5L).map { k =>
      // doc k keeps a k-dependent prefix of base plus its own tail
      val kept = base.take(20 - k.toInt * 2)
      (k, (kept ++ (1 to k.toInt * 2).map(j => s"t${k}_$j")).mkString(" "))
    }.toDF("doc_id", "text")
    val op = ContainmentJoin.pairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def grams(s: String): Set[Seq[String]] =
      s.split("\\s+").toSeq.sliding(3).map(_.toSeq).toSet
    val texts = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val brute = (for {
      a <- texts.keys; b <- texts.keys if a != b
      ga = grams(texts(a)); gb = grams(texts(b))
      if ga.nonEmpty && (ga intersect gb).size * 100 >= ga.size * 80
    } yield (a, b)).toSet
    assert(op == brute, s"operator $op vs brute $brute")
  }

  test("LabelPropagation: synchronous weighted vote matches a hand-rolled loop; ties to smallest label") {
    import graft.ext.LabelPropagation
    // two triangles {1,2,3} and {7,8,9} bridged by 3->7, plus a
    // parallel 9->7 edge (multiplicity must weight the vote) and an
    // isolated pair 20<->21. Undirected core: each undirected edge fed
    // both ways so votes flow symmetrically.
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L), (7L, 9L), (8L, 9L))
    val edgeSeq = und ++ und.map { case (a, b) => (b, a) } ++
      Seq((3L, 7L), (9L, 7L), (20L, 21L), (21L, 20L))
    val iters = 3
    val got = LabelPropagation.communities(edgeSeq.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val nodes = edgeSeq.flatMap(e => Seq(e._1, e._2)).distinct
    var ref = nodes.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      val votes = edgeSeq.groupBy(_._2).map { case (d, es) =>
        d -> es.groupBy(e => ref(e._1)).map { case (l, v) => l -> v.size }
      }
      ref = nodes.map { v =>
        v -> votes.get(v).map { m =>
          val best = m.values.max
          m.collect { case (l, c) if c == best => l }.min
        }.getOrElse(ref(v))
      }.toMap
    }
    assert(got == ref, s"engine $got vs reference $ref")
    // communities form: the two triangles settle on distinct labels
    assert(Set(1L, 2L, 3L).map(got).size == 1)
    assert(Set(20L, 21L).map(got).size <= 2 && got(20L) != got(1L))
  }

  test("BfsHops: frontier expansion takes the MIN hop; unreached nodes absent") {
    import graft.ext.BfsHops
    // seeds (node % 50 == 0): 50 and 100. Node 3 is reachable in 1 hop
    // from 100 and in 3 hops via the 1-2-3 chain — min wins. Node 5 is
    // 3 hops via the shortcut (not 5 via the chain); 20/21 are a
    // disconnected component; (50,1) is a parallel edge.
    val edges = Seq((50L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (100L, 7L), (7L, 8L), (100L, 3L), (20L, 21L), (21L, 20L), (50L, 1L))
    val got = BfsHops.hops(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(50L -> 0L, 100L -> 0L,
      1L -> 1L, 3L -> 1L, 7L -> 1L,
      2L -> 2L, 4L -> 2L, 8L -> 2L,
      5L -> 3L))
  }
}
