package graft

import graft.tables.Tables

/** Direct-recomputation checks for the repetition / decontamination /
  * sharding / unigram-LM operators: each query's full sf0.001 output is
  * compared against a plain-Scala model of the same definition, so the
  * Spark plan can be rearranged freely without changing a single value.
  */
class LlmPipelineSpec extends SparkSpec {

  private lazy val docs: Map[Long, String] =
    Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0

  test("q_repetition matches a plain-Scala recomputation on every doc") {
    val expect = docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val n = ws.length
      def dupFrac(k: Int): Double =
        if (n >= k) {
          val total = n - k + 1
          val distinct = ws.sliding(k).map(_.mkString(" ")).toSet.size
          r4((total - distinct).toDouble / total)
        } else 0.0
      val topF = r4(ws.groupBy(identity).values.map(_.length).max.toDouble / n)
      val flagged =
        if (dupFrac(2) > 0.2 || dupFrac(3) > 0.18 || topF > 0.3) 1 else 0
      id -> ((n, dupFrac(2), dupFrac(3), topF, flagged))
    }
    val got = SparkEntry.queries("q_repetition")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getInt(5))))
      .toMap
    assert(got === expect)
  }

  test("q_contam_ngram recovers every planted 8-gram leak") {
    val out = SparkEntry.queries("q_contam_ngram")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // A planted doc embeds its eval source's first 8 words between
    // out-of-vocabulary sentinels; it can only match if the source itself
    // has >= 8 words (otherwise it contributes no 8-gram to the eval set).
    val planted = docs.collect {
      case (id, t) if id % 10 == 0 && id < 300 && t.split(" ", -1).length >= 8 =>
        id + 30000L
    }
    assert(planted.nonEmpty)
    planted.foreach(p => assert(out.contains(p), s"planted leak $p not flagged"))
    assert(out.values.forall(_ >= 1L))
  }

  test("q_contam_embed recovers every planted vector leak and nothing else") {
    // Planted leaks are exact copies of bench vectors 0..9 under +70000
    // ids (cos = 1); uniform-random synthetic embeddings have no natural
    // cos >= 0.98 pairs, so the flag set is exactly the planted set.
    val rows = SparkEntry.queries("q_contam_embed")(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSet === (70000L until 70010L).toSet,
      "flag set must be exactly the planted copies")
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) - 70000L,
        "leak must resolve to its benchmark source")
      assert(r.getDouble(2) === 1.0, "exact copy scores cos = 1.0")
    }
  }

  test("q_mix_temperature flattens shares toward uniform and conserves the budget") {
    val rows = SparkEntry.queries("q_mix_temperature")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val nTotal = rows.map(_._2).sum
    // weights normalize (within the 1e-4 emission rounding x #groups)
    assert(math.abs(rows.map(_._3).sum - 1.0) <= rows.length * 1e-4)
    // T=2 flattening: any lang above uniform raw share is DOWN-weighted,
    // any lang below is UP-weighted (sqrt pulls toward uniform)
    rows.foreach { case (lang, n, w, _) =>
      val raw = n.toDouble / nTotal
      val uniform = 1.0 / rows.length
      if (raw > uniform) assert(w < raw + 1e-4, s"$lang not down-weighted")
      if (raw < uniform) assert(w > raw - 1e-4, s"$lang not up-weighted")
    }
    // targets conserve the corpus budget up to per-group floor loss
    val tSum = rows.map(_._4).sum
    assert(tSum <= nTotal && tSum >= nTotal - rows.length,
      s"target sum $tSum vs corpus $nTotal")
  }

  test("q_shard_assign partitions the corpus exactly across 16 shards") {
    val rows = SparkEntry.queries("q_shard_assign")(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSet.subsetOf((0L until 16L).toSet))
    assert(rows.map(_.getLong(1)).sum === docs.size.toLong)
    val totTokens = docs.values.map(_.split(" ", -1).length.toLong).sum
    assert(rows.map(_.getLong(2)).sum === totTokens)
  }

  test("q_dup_spans matches a plain-Scala interval-merge recomputation") {
    val k = 16
    val gramsByDoc = docs.map { case (id, t) =>
      val ws = t.split(" ", -1)
      id -> ((ws.length,
        if (ws.length >= k) ws.sliding(k).map(_.mkString(" ")).toVector
        else Vector.empty[String]))
    }
    val gramDocs = gramsByDoc.toSeq
      .flatMap { case (id, (_, gs)) => gs.distinct.map(g => g -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    val expect = gramsByDoc.map { case (id, (n, gs)) =>
      val dupPos = gs.zipWithIndex.collect {
        case (g, i) if gramDocs(g) >= 2 => i
      }
      val merged = dupPos.foldLeft(List.empty[(Int, Int)]) {
        case (Nil, p) => List((p, p + k))
        case ((s, e) :: rest, p) =>
          if (p > e) (p, p + k) :: (s, e) :: rest
          else (s, math.max(e, p + k)) :: rest
      }
      val covered = merged.map { case (s, e) => (e - s).toLong }.sum
      id -> ((n, covered, merged.size.toLong, r4(covered.toDouble / n)))
    }
    val got = SparkEntry.queries("q_dup_spans")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got === expect)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def md5Frac(s: String): Double =
    java.lang.Long.parseLong(md5Hex(s).take(8), 16) / 4294967296.0

  test("q_mix_rebalance keeps exactly the hash-admitted docs per lang") {
    val langs = Tables.documents(spark, sfDir).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val before = langs.groupBy(_._2).map { case (l, xs) => l -> xs.length.toLong }
    val total = langs.length.toLong
    val rate = before.map { case (l, n) => l -> math.min(1.0, 0.2 * total / n) }
    val after = langs.filter { case (id, l) => md5Frac(s"$id#mix") < rate(l) }
      .groupBy(_._2).map { case (l, xs) => l -> xs.length.toLong }
      .withDefaultValue(0L)
    val got = SparkEntry.queries("q_mix_rebalance")(spark, sfDir).collect()
    assert(got.map(_.getString(0)).toSet === before.keySet)
    got.foreach { r =>
      val l = r.getString(0)
      assert(r.getLong(1) === before(l), s"$l n_before")
      assert(r.getDouble(2) === rate(l), s"$l rate")
      assert(r.getLong(3) === after(l), s"$l n_after")
    }
  }

  test("q_ann_binary candidates come from signature Hamming, rerank is exact") {
    val vecs = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def sig(v: Array[Double]): (Long, Long) = {
      var h1 = 0L; var h2 = 0L
      for (i <- 0 until 32) if (v(i) >= 0) h1 += 1L << i
      for (i <- 32 until 64) if (v(i) >= 0) h2 += 1L << (i - 32)
      (h1, h2)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val sigs = vecs.map { case (id, v) => id -> sig(v) }
    val expect = (0L until 10L).flatMap { qid =>
      val (q1, q2) = sigs(qid)
      val cand = vecs.keys.filter(_ != qid).toSeq
        .map { id =>
          val (h1, h2) = sigs(id)
          (id, java.lang.Long.bitCount(h1 ^ q1) + java.lang.Long.bitCount(h2 ^ q2))
        }
        .sortBy { case (id, ham) => (ham, id) }.take(32)
      cand.map { case (id, ham) =>
        (id, ham, BigDecimal(cos(vecs(qid), vecs(id)))
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
        .sortBy { case (id, _, c) => (-c, id) }.take(5).zipWithIndex
        .map { case ((id, ham, c), i) => (qid, i + 1, id, c, ham) }
    }.toSet
    val got = SparkEntry.queries("q_ann_binary")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    assert(got === expect)
  }

  test("binary-signature ANN holds its measured recall floor vs brute force") {
    // Deterministic (no RNG anywhere): at sf0.01, Hamming top-32 of 500
    // (6.4% candidate coverage) reranked exactly gives mean recall@5 of
    // 0.64 against brute-force cosine. Gate at 0.55 as the regression
    // floor; on uniform-random vectors this is signature quality, not
    // luck — sign-bit agreement concentrates around cosine similarity.
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def sig(v: Array[Double]): Array[Boolean] = v.map(_ >= 0)
    val sigs = vecs.map { case (id, v) => id -> sig(v) }
    val recalls = (0L until 10L).map { qid =>
      val others = vecs.keys.filter(_ != qid).toSeq
      val exact = others.sortBy(id => (-cos(vecs(qid), vecs(id)), id)).take(5).toSet
      val cand = others.map { id =>
        id -> sigs(id).zip(sigs(qid)).count { case (a, b) => a != b }
      }.sortBy { case (id, h) => (h, id) }.take(32).map(_._1)
      val got = cand.sortBy(id => (-cos(vecs(qid), vecs(id)), id)).take(5).toSet
      (exact intersect got).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.55, s"mean recall@5 $mean below floor (per-query: $recalls)")
  }

  test("driver union-find and distributed propagation agree on random graphs") {
    // The closure has two code paths (bounded collect + union-find below
    // the cap, min-label propagation above). They must be EQUIVALENT:
    // componentsFromPairs picks by size, so a corpus crossing the cap
    // must not change its components. Deterministic seeded graphs.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(25)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("doc_a", "doc_b")
      val viaQuery = graft.queries.LlmQueries.componentsFromPairs(df)
        .select("doc_id", "component").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference model: floyd-style closure over the symmetric graph
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
      def reach(start: Long): Set[Long] = {
        var seen = Set(start); var frontier = Set(start)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
          seen ++= frontier
        }
        seen
      }
      val model = nodes.map(v => v -> reach(v).min).toMap
      assert(viaQuery === model, s"trial $trial union-find path diverges")
      // the over-cap path, driven directly on the symmetrized edges
      val sym = df.union(df.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      val viaProp = graft.queries.LlmQueries.propagateMinLabels(sym, 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaProp === model, s"trial $trial propagation path diverges")
    }
  }

  test("q_chunk_split matches a plain-Scala sliding-window recomputation") {
    val expect = docs.flatMap { case (id, text) =>
      val n = text.split(" ", -1).length
      val ws = text.split(" ", -1)
      (0 until n by 48).zipWithIndex.map { case (start, idx) =>
        (id, idx, start) -> ((math.min(64, n - start), ws(start)))
      }
    }
    val got = SparkEntry.queries("q_chunk_split")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        ((r.getInt(3), r.getString(4))))
      .toMap
    assert(got === expect)
  }

  test("q_vocab_pmi matches a plain-Scala collocation recomputation") {
    val texts = docs.values.map(_.split(" ", -1).toSeq).toSeq
    val uni = texts.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val nUni = uni.values.sum.toDouble
    val nBi = texts.map(ws => math.max(ws.length - 1, 0).toLong).sum.toDouble
    val bi = texts.filter(_.length >= 2)
      .flatMap(ws => ws.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
      .filter(_._2 >= 5)
    val expect = bi.toSeq.map { case ((w1, w2), cab) =>
      val lift = math.floor(
        cab * nUni * nUni / (nBi * uni(w1) * uni(w2)) * 10000 + 0.5) / 10000.0
      (w1, w2, cab, lift)
    }.sortBy { case (w1, w2, _, lift) => (-lift, w1, w2) }.take(30)
    val got = SparkEntry.queries("q_vocab_pmi")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expect)
  }

  test("q_meta_audit matches a plain-Scala metadata recomputation") {
    val meta = Tables.documents(spark, sfDir)
      .select("lang", "text", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expect = meta.groupBy(_._1).map { case (lang, xs) =>
      val drifts = xs.map { case (_, text, stored) => math.abs(stored - text.length) }
      lang -> ((xs.length.toLong,
        xs.count { case (_, text, stored) => stored == text.length.toLong }.toLong,
        drifts.sum, drifts.max))
    }
    val got = SparkEntry.queries("q_meta_audit")(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expect)
  }

  test("q_knn_label matches a plain-Scala majority-vote recomputation") {
    val rows = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v", "label")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    val vecs = rows.map(t => t._1 -> t._2).toMap
    val labels = rows.map(t => t._1 -> t._3).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // Spark round(c, 3) is BigDecimal HALF_UP on the double
    def r3(x: Double): Double =
      BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    val preds = (0L until 50L).map { qid =>
      val top5 = vecs.keys.filter(_ != qid).toSeq
        .map(id => (id, r3(cos(vecs(qid), vecs(id)))))
        .sortBy { case (id, c) => (-c, id) }.take(5)
      val votes = top5.map(t => labels(t._1))
        .groupBy(identity).map { case (l, xs) => (l, xs.size) }
      labels(qid) -> votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
    }
    val expect = preds.groupBy(_._1).map { case (tl, xs) =>
      val correct = xs.count(p => p._2 == p._1)
      tl -> ((xs.size.toLong, correct.toLong,
        math.floor(correct.toDouble / xs.size * 10000 + 0.5) / 10000.0))
    }
    val got = SparkEntry.queries("q_knn_label")(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === expect)
  }

  test("q_dedup_pipeline keeps exactly one survivor per component, originals over copies") {
    val rows = SparkEntry.queries("q_dedup_pipeline")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    assert(rows.nonEmpty)
    // ids are unique; every component id is the component's min member
    assert(rows.map(_._1).distinct.length === rows.length)
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (comp, members) =>
      assert(members.map(_._1).min === comp, s"component id $comp is not its min member")
      assert(members.forall(_._3 === members.length.toLong), s"csize wrong in $comp")
      assert(members.count(_._5 == 1) === 1, s"component $comp keeps != 1 survivor")
      // survivor = max doc_len, ties to min doc_id
      val survivor = members.minBy { case (id, _, _, len, _) => (-len, id) }
      assert(survivor._5 === 1, s"component $comp kept a non-canonical doc")
    }
    // every planted copy (id >= 10000) pairs with its identical original:
    // same length => the original (smaller id) is kept, the copy dropped
    val kept = rows.filter(_._5 == 1).map(_._1).toSet
    rows.filter(_._1 >= 10000L).foreach { case (id, comp, _, _, _) =>
      assert(!kept.contains(id), s"planted copy $id survived")
      assert(comp < 10000L, s"copy $id not joined to its original's component")
    }
  }

  test("q_curate_funnel counts are a consistent monotone funnel") {
    val rows = SparkEntry.queries("q_curate_funnel")(spark, sfDir).collect()
      .sortBy(_.getInt(0))
    assert(rows.map(_.getString(1)).toSeq === Seq(
      "00_ingest", "01_lang", "02_min_length", "03_repetition", "04_exact_dedup"))
    val ns = rows.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a }, "funnel must shrink")
    assert(rows.head.getLong(3) === 0L)
    assert(rows.map(_.getLong(3)).sum === ns.head - ns.last,
      "drops must account for ingest minus survivors")
    assert(ns.head === docs.size.toLong)
  }

  test("q_dedup_incremental flags exactly the catalog collisions") {
    val catalog = docs.filter { case (id, _) => id % 7 != 0 }
    val catalogMin = catalog.toSeq.groupBy(_._2)
      .map { case (t, xs) => t -> xs.map(_._1).min }
    val snapshot = docs.filter { case (id, _) => id % 7 == 0 } ++
      catalog.filter { case (id, _) => id < 70 }
        .map { case (id, t) => (id + 40000L) -> t }
    val expect = snapshot.map { case (id, t) =>
      id -> catalogMin.get(t)
    }
    val got = SparkEntry.queries("q_dedup_incremental")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (if (r.getInt(2) == 1) Some(r.getLong(1)) else { assert(r.isNullAt(1)); None }))
      .toMap
    assert(got === expect)
    // every planted copy must collide
    assert(snapshot.keys.filter(_ >= 40000L).forall(id => got(id).isDefined))
  }

  test("q_embed_coverage reports exact per-lang coverage and norms") {
    val langOf = Tables.documents(spark, sfDir).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val norms = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map { r =>
        val v = r.getSeq[Double](1)
        r.getLong(0) -> math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      }.toMap
    val expect = langOf.groupBy(_._2).map { case (l, xs) =>
      val ids = xs.keys.toSeq
      val withVec = ids.filter(norms.contains)
      val sinorm = withVec.map(id =>
        math.floor(norms(id) * 1e6 + 0.5).toLong).sum
      l -> ((ids.size.toLong, withVec.size.toLong,
        math.floor(sinorm / (withVec.size * 100.0) + 0.5) / 10000.0))
    }
    val got = SparkEntry.queries("q_embed_coverage")(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === expect)
  }

  test("q_unigram_lm matches an order-independent fixed-point recomputation") {
    val allWords = docs.values.toSeq.flatMap(_.split(" ", -1))
    val cnt = allWords.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val n = allWords.size.toLong
    val expect = docs.map { case (id, t) =>
      val ws = t.split(" ", -1)
      val sil = ws.map(w =>
        math.floor(math.log10(cnt(w).toDouble / n) * 1e6 + 0.5).toLong).sum
      id -> ((ws.length.toLong,
        math.floor(sil / (ws.length * 100.0) + 0.5) / 10000.0))
    }
    val got = SparkEntry.queries("q_unigram_lm")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === expect)
  }

  test("q_eval_langid matches a plain-Scala metrics recomputation from the matrix") {
    // Replay precision/recall/F1/accuracy/kappa from q_lang_id's own
    // confusion rows, so the eval can only drift if the shared matrix
    // definition does — and kappa's exact integer rational is checked
    // against the textbook (po − pe)/(1 − pe) form.
    val cm = SparkEntry.queries("q_lang_id")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = cm.values.sum
    val trace = cm.collect { case ((l, p), c) if l == p => c }.sum
    val rowN = cm.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    val colN = cm.groupBy(_._1._2).map { case (p, m) => p -> m.values.sum }
    val peNum = rowN.map { case (c, rn) => rn * colN.getOrElse(c, 0L) }.sum
    val kNum = n * trace - peNum
    val kDen = n * n - peNum
    val got = SparkEntry.queries("q_eval_langid")(spark, sfDir).collect()
    assert(got.map(_.getString(0)).toSeq === rowN.keys.toSeq.sorted,
      "one row per label class")
    for (r <- got) {
      val cls = r.getString(0)
      val tp = cm.getOrElse((cls, cls), 0L)
      assert(r.getLong(1) === tp)
      assert(r.getLong(2) === colN.getOrElse(cls, 0L) - tp, s"$cls fp")
      assert(r.getLong(3) === rowN(cls) - tp, s"$cls fn")
      assert(r.getLong(4) === rowN(cls), s"$cls support")
      if (colN.getOrElse(cls, 0L) > 0)
        assert(r.getDouble(5) === r4(tp.toDouble / colN(cls)), s"$cls prec")
      else assert(r.isNullAt(5), s"$cls prec must be null with no predictions")
      assert(r.getDouble(6) === r4(tp.toDouble / rowN(cls)), s"$cls rec")
      assert(r.getDouble(8) === r4(trace.toDouble / n), "accuracy")
      assert(r.getLong(9) === kNum, "kappa_num")
      assert(r.getLong(10) === kDen, "kappa_den")
      // the emitted rational IS the textbook kappa
      val po = trace.toDouble / n
      val pe = peNum.toDouble / (n.toDouble * n)
      assert(math.abs(kNum.toDouble / kDen - (po - pe) / (1 - pe)) < 1e-9)
      assert(r.getDouble(11) === r4(kNum.toDouble / kDen), "kappa")
    }
  }

  test("q_inverted_index matches a plain-Scala build and group-limits the postings sample") {
    val postings = docs.toSeq.flatMap { case (id, text) =>
      text.split(" ", -1).map(t => (t, id))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case ((t, id), tf) => (t, id, tf) }
    val byTok = postings.groupBy(_._1)
    val expect = byTok.toSeq.flatMap { case (tok, ps) =>
      val df = ps.size.toLong
      val total = ps.map(_._3).sum
      ps.toSeq.sortBy(p => (-p._3, p._2)).take(3).zipWithIndex.map {
        case ((_, id, tf), i) => (tok, df, total, (i + 1).toLong, id, tf)
      }
    }.sortBy(x => (x._1, x._4))
    val qdf = SparkEntry.queries("q_inverted_index")(spark, sfDir)
    val got = qdf.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getInt(3).toLong, r.getLong(4), r.getLong(5))).toSeq
    assert(got === expect)
    // The rank≤3 filter must become a group limit so no task buffers a hot
    // token's full postings for the sample.
    assert(qdf.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      qdf.queryExecution.executedPlan.toString)
  }

  test("q_dedup_eval: LSH ⊆ exact, counts consistent, recall above the banding floor") {
    val r = SparkEntry.queries("q_dedup_eval")(spark, sfDir).collect()(0)
    val (ne, nl, nm, bp) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    assert(ne > 0)
    assert(nl === ne - nm, "verification at the same τ must make LSH ⊆ exact")
    assert(bp === 10000L * nl / ne)
    // 25 planted identical copies collide in every band — they alone put
    // recall above 25/|exact|; the measured floor on this corpus is far
    // higher (banding catches near-dups too). Gate conservatively.
    assert(bp >= 5000L, s"banded recall collapsed: $bp bp ($nl/$ne)")
  }

  test("q_dedup_threshold_sweep: interior F1 argmax — the selection discriminates (r13)") {
    val rows = SparkEntry.queries("q_dedup_threshold_sweep")(spark, sfDir)
      .collect()
    assert(rows.length === 7)
    assert(rows.map(_.getLong(0)).toSeq === (3000L to 9000L by 1000L))
    val f1 = rows.map(r => r.getLong(0) -> r.getLong(6)).toMap
    rows.foreach { r =>
      val (tau, nPred, nTp, nTruth) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nTruth === 25L, "25 planted duplicates are the ground truth")
      assert(nTp <= nPred && nTp <= nTruth)
      assert(r.getLong(4) === 10000L * nTp / math.max(nPred, 1L),
        s"precision identity broke at tau=$tau")
      assert(r.getLong(5) === 10000L * nTp / nTruth,
        s"recall identity broke at tau=$tau")
      assert(r.getLong(6) === 20000L * nTp / (nPred + nTruth),
        s"f1 identity broke at tau=$tau")
    }
    // τ = 0.3 must find every plant (the noisiest tier sits at jac ≈ 0.35)
    assert(rows.head.getLong(5) === 10000L, "recall at the loosest τ")
    // The selection must DISCRIMINATE: some interior τ strictly beats both
    // edges (low τ admits the chimeras, high τ loses the noisy tiers) — a
    // monotone curve would mean the sweep measured nothing.
    val best = f1.values.max
    assert(best > f1(3000L) && best > f1(9000L),
      s"flat sweep: f1 curve $f1")
  }

  test("q_lsh_band_sweep: candidate nesting along the refinement chain + byte-identical floor (r16)") {
    import org.apache.spark.sql.functions._
    import graft.queries.LlmQueries
    val rows = SparkEntry.queries("q_lsh_band_sweep")(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq ===
      LlmQueries.BandSweepBands.map(_.toLong),
      "one row per grid banding, in order")
    rows.foreach { r =>
      assert(r.getLong(2) === 25L, "25 intended noisy pairs are the truth")
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(4) === 10000L * r.getLong(3) / r.getLong(2),
        s"recall identity broke at bands=${r.getLong(0)}")
    }
    // THEOREM: the grid bandings are totally ordered by refinement
    // (each band count divides the next), and a fully-matched band
    // forces all its sub-bands to match — so the candidate SETS nest,
    // and with them n_cand and hits are non-decreasing in bands.
    // Checked as actual set containment, not just counts.
    val corpus = LlmQueries.mixedLabeledCorpus(spark, sfDir)
    val sigs = LlmQueries.minhashSigs(LlmQueries.shingleDocs(corpus))
      .localCheckpoint(true)
    def candSet(b: Int): Set[(Long, Long)] = {
      val bands = LlmQueries.bandKeyRows(sigs, b)
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < lit(10000L) && col("b.doc_id") >= lit(10000L))
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val sets = LlmQueries.BandSweepBands.map(b => b -> candSet(b))
    sets.sliding(2).foreach { case Seq((b1, s1), (b2, s2)) =>
      assert(s1.subsetOf(s2),
        s"nesting broke: candidates($b1) ⊄ candidates($b2): " +
          s"${(s1 -- s2).take(3)}")
    }
    (rows, rows.drop(1)).zipped.foreach { (a, b) =>
      assert(a.getLong(1) <= b.getLong(1) && a.getLong(3) <= b.getLong(3),
        "n_cand/hits must be non-decreasing in bands (nesting)")
    }
    // Byte-identical plants have equal signature vectors, so they sit in
    // the coarsest banding's candidates — and by nesting, in every one.
    // (doc_id % 5 == 0 plants are verbatim: 5 pairs on this fixture.)
    val verbatim = (0L until 25L).filter(_ % 5 == 0)
      .map(i => (i, i + 10000L)).toSet
    sets.foreach { case (b, s) =>
      assert(verbatim.subsetOf(s), s"verbatim plants missing at bands=$b")
    }
    // and the sweep DISCRIMINATES (measured, not a theorem): the finest
    // banding must recover strictly more than the coarsest, at strictly
    // more candidate cost — a flat curve would mean the knob measures
    // nothing on this fixture
    assert(rows.last.getLong(3) > rows.head.getLong(3),
      "flat recall curve")
    assert(rows.last.getLong(1) > rows.head.getLong(1),
      "flat cost curve")
  }

  test("sweep discovery is lossless: prefix-filtered pairs equal brute force (8 seeded trials)") {
    // The threshold sweep's keystone claim — df-ranked prefix postings at
    // τ_prefix = 0.29 generate EVERY bipartite pair with rounded
    // jac_bp ≥ 3000 — randomized through the real Spark machinery: tiny
    // vocabularies force heavy shingle sharing and boundary-adjacent
    // Jaccard values, and the brute-force model replays the exact
    // floor((i/u)·10⁴ + 0.5) arithmetic the query computes.
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    var sawPairs = 0
    (1 to 8).foreach { trial =>
      val vocab = Vector("a", "b", "c", "d", "e", "f").take(4 + rnd.nextInt(3))
      def doc(): String =
        Vector.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      val nat = (0L until (4 + rnd.nextInt(5)).toLong).map(i => (i, doc()))
      val pl = (0L until (3 + rnd.nextInt(4)).toLong).map(i => (10000L + i, doc()))
      val corpus = (nat ++ pl).toDF("doc_id", "text")
      val got = graft.queries.LlmQueries.sweepPairs29(corpus).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      def sh(t: String): Set[String] =
        t.split(" ").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      val expect = (for {
        (j, tj) <- nat; (p, tp) <- pl
        sa = sh(tj); sb = sh(tp)
        u = (sa ++ sb).size if u > 0
        bp = math.floor(
          (sa & sb).size.toDouble / u.toDouble * 10000 + 0.5).toLong
        if bp >= 3000L
      } yield (j, p) -> bp).toMap
      assert(got === expect,
        s"trial $trial: prefix discovery ≠ brute force " +
          s"(|nat|=${nat.size}, |plants|=${pl.size})")
      if (expect.nonEmpty) sawPairs += 1
    }
    assert(sawPairs >= 4, s"only $sawPairs/8 trials produced pairs")
  }

  test("q_tokenizer_fertility: per-lang ratios are consistent and the merges compress (r13)") {
    val rows = SparkEntry.queries("q_tokenizer_fertility")(spark, sfDir)
      .collect()
    val langs = Tables.documents(spark, sfDir)
      .select("lang").distinct().collect().map(_.getString(0)).sorted
    assert(rows.map(_.getString(0)).toSeq === langs.toSeq)
    rows.foreach { r =>
      val (nWords, nChars, nTokens) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nWords > 0)
      assert(nTokens >= nWords, "every word is at least one token")
      assert(nTokens < nChars,
        s"30 merges must compress below character count (${r.getString(0)})")
      assert(r.getLong(4) === 1000L * nTokens / nWords)
      assert(r.getLong(5) === 1000L * nChars / nTokens)
    }
    // Cross-check the per-lang decomposition against the corpus-global
    // vocabulary collapse the BPE family trains on.
    val total = graft.llm.Bpe.wordFreq(Tables.documents(spark, sfDir))
      .agg(org.apache.spark.sql.functions.sum("freq")).collect()(0).getLong(0)
    assert(rows.map(_.getLong(1)).sum === total)
  }

  test("mm_phash_dedup: full banded-pHash replay matches; planted copies at distance 0") {
    val corpus = docs ++ docs.collect {
      case (id, t) if id < 25 => (id + 10000L) -> t
    }
    def phash(text: String): Long = {
      val bytes = text.getBytes("UTF-8")
      val nb = bytes.length
      val sums = new Array[Long](60)
      for (p <- 0 until nb) sums((p.toLong * 60 / nb).toInt) += bytes(p) & 0xff
      val total = sums.sum
      (0 until 60).foldLeft(0L)((h, j) =>
        if (sums(j) * 60 > total) h | (1L << j) else h)
    }
    val ph = corpus.view.mapValues(phash).toMap
    val ids = ph.keys.toSeq.sorted
    val expect = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      (a, b) = (ids(i), ids(j))
      if (0 until 4).exists(k =>
        ((ph(a) >> (k * 15)) & 32767L) == ((ph(b) >> (k * 15)) & 32767L))
      dist = java.lang.Long.bitCount(ph(a) ^ ph(b))
      if dist <= 6
    } yield (a, b, dist)).toSet
    val got = SparkEntry.queries("mm_phash_dedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === expect)
    val planted = (0L until 25L).map(i => (i, i + 10000L, 0)).toSet
    assert(planted.subsetOf(got), "identical payloads must collide at 0")
  }

  test("q_simjoin_prefix equals the brute-force all-pairs exact answer") {
    // Planted corpus exactly as the query builds it: docs + copies of
    // doc_id < 25 shifted by 10000.
    val corpus = docs ++ docs.collect {
      case (id, text) if id < 25 => (id + 10000L) -> text
    }
    def shingles(text: String): Set[String] =
      text.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val sh = corpus.view.mapValues(shingles).toMap
    val ids = sh.keys.toSeq.sorted
    // O(n²) brute force — the definitionally-complete answer the prefix
    // filter must reproduce with zero false negatives.
    val expect = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      (a, b) = (ids(i), ids(j))
      inter = (sh(a) & sh(b)).size
      uni = (sh(a) | sh(b)).size
      jac = r4(inter.toDouble / uni)
      if jac >= 0.8
    } yield (a, b, jac)).toSet
    val got = SparkEntry.queries("q_simjoin_prefix")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expect)
    assert(got.nonEmpty, "planted dups must produce pairs")
    // The planted exact copies must all be found (jac = 1.0 pairs).
    val planted = expect.filter { case (a, b, _) => b == a + 10000L }
    assert(planted.forall { case (_, _, j) => j == 1.0 })
    assert(planted.subsetOf(got))
  }

  test("q_dedup_survivorship picks each component's longest member (doc_id tiebreak)") {
    val comp = graft.queries.Registry.queries("q_dup_components")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)) // doc_id -> component
    val chars = Tables.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = comp.groupBy(_._2).map { case (c, members) =>
      val ids = members.map(_._1)
      val survivor = ids.maxBy(id => (chars(id), -id))
      c -> (ids.length.toLong, survivor, chars(survivor))
    }
    val got = graft.queries.Registry.queries("q_dedup_survivorship")(
      spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expect)
    // the policy differs from min-id canonical somewhere on the fixture
    assert(got.exists { case (c, (_, survivor, _)) => survivor != c })
  }

  test("q_phrase_search matches a plain-Scala positional replay") {
    val posts = docs.toSeq.flatMap { case (id, text) =>
      text.split(" ", -1).zipWithIndex.collect {
        case (w, i) if w.length >= 4 => (id, i.toLong, w)
      }
    }
    val Seq(wa, wb) = posts.groupBy(_._3).toSeq
      .map { case (w, ps) => (w, ps.size) }
      .sortBy { case (w, n) => (-n, w) }.take(2).map(_._1)
    val expect = posts.filter(_._3 == wa).flatMap { case (d, pa, _) =>
      posts.filter(p => p._1 == d && p._3 == wb)
        .map(p => (d, math.abs(pa - p._2)))
        .filter(_._2 <= 3)
    }.groupBy(_._1).view
      .mapValues(gs => (gs.size.toLong, gs.map(_._2).min)).toMap
    val got = graft.queries.Registry.queries("q_phrase_search")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expect)
    assert(got.nonEmpty, "the top-2 terms must co-occur somewhere")
  }

  test("q_doc_keywords matches a plain-Scala tf/df rank on every reported doc") {
    val tf = docs.toSeq.flatMap { case (id, text) =>
      text.split(" ", -1).filter(_.nonEmpty).groupBy(identity)
        .map { case (w, ws) => (id, w, ws.length.toLong) }
    }
    val df = tf.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size.toLong)
    val expect = tf.filter(_._1 < 100).groupBy(_._1).toSeq.flatMap {
      case (id, rows) =>
        rows.map(r => (r._2, r._3, df(r._2)))
          .sortBy { case (w, t, d) => (-t, d, w) }.take(3).zipWithIndex
          .map { case ((w, t, d), i) => (id, i + 1L, w, t, d) }
    }.sortBy(r => (r._1, r._2))
    val got = graft.queries.Registry.queries("q_doc_keywords")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect)
  }

  test("q_k_anon_generalize: coarser levels never increase residual risk on a laddered hierarchy") {
    val rows = graft.queries.Registry.queries("q_k_anon_generalize")(
      spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
    val people = rows.map(r => r.getLong(3))
    // dropping a QI column merges cells — level 1 risk ≤ level 0; the
    // region/segment steps coarsen further along the same hierarchy
    assert(people(1) <= people(0))
    assert(people(2) <= people(1))
    assert(people(3) <= people(2))
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "risky cells <= cells")
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 10000L)
    }
    // the ladder is non-trivial on the fixture: level 0 carries real risk
    assert(people(0) > 0L)
  }
}
