package graft.operators

import graft.SparkSpec

/** Seeded-random differential tests: each distributed operator is run
  * against a straightforward LOCAL model of the same math on the same
  * randomized input (fixed seeds — deterministic CI). The hand-computed
  * specs pin the semantics on crafted corners; these pin the
  * DISTRIBUTED implementation (joins, windows, groupByKey, iteration
  * plumbing) to the math on inputs nobody hand-picked — partitioning
  * bugs, tie-break drift, and lost-row bugs surface here first. */
class RandomizedDifferentialSpec extends SparkSpec {
  import spark.implicits._

  test("bfsDistances == local multi-source BFS on a random digraph") {
    val rnd = new scala.util.Random(0xBF5)
    val n = 150
    val edges = Seq.fill(600)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val sources = Seq(0L, 7L, 33L, 149L)
    val out = Graph.bfsDistances(edges.toDF("s", "d"), "s", "d",
        sources.toDF("node"), "node", maxHops = 12)
      .as[(Long, Long)].collect().toMap
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var dist = sources.map(_ -> 0L).toMap
    var frontier = sources.toSet
    var h = 1L
    while (frontier.nonEmpty && h <= 12) {
      val nxt = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .filterNot(dist.contains)
      dist ++= nxt.map(_ -> h)
      frontier = nxt
      h += 1
    }
    assert(out == dist)
  }

  test("personalizedPageRank == local integer iteration on a random digraph") {
    val rnd = new scala.util.Random(0x994)
    val n = 80
    val edges = Seq.fill(400)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val seeds = (0L until n.toLong).filter(_ % 7 == 0)
    val iters = 4
    val scale = 1000000000000L
    val out = Graph.personalizedPageRank(edges.toDF("s", "d"), "s", "d",
        seeds.toDF("node"), "node", iterations = iters)
      .as[(Long, Long)].collect().toMap
    // local model: the same floor-division update, dense maps
    val nodes = (edges.map(_._1) ++ edges.map(_._2) ++ seeds).distinct
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val outAdj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seedSet = seeds.toSet
    val base = scale / seeds.size
    val b15 = 15L * base / 100L
    var pr = nodes.map(v => v -> (if (seedSet(v)) base else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((u, ds) <- outAdj; c = pr(u) / deg(u); d <- ds) in(d) += c
      pr = nodes.map { v =>
        v -> ((if (seedSet(v)) b15 else 0L) + 85L * in(v) / 100L)
      }.toMap
    }
    assert(out == pr)
  }

  test("sq8TopK == local quantize-dot-rerank on random float vectors") {
    val rnd = new scala.util.Random(0x508)
    val d = 24
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(d)((rnd.nextDouble() * 2 - 1).toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    val out = Similarity.sq8TopK(emb, emb.filter($"vec_id" < 5),
        "vec_id", "embedding", k = 4, rerank = 10)
      .as[(Long, Int, Long, Long, Double)].collect().toSet
    // local mirror of the documented arithmetic
    val micro = vecs.map { case (i, v) =>
      i -> v.map(x => math.floor(x.toDouble * 1e6).toLong)
    }.toMap
    val s = micro.values.flatten.map(math.abs).max
    val codes = micro.map { case (i, m) => i -> m.map(x => x * 127L / s) }
    def dot8(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val c = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0
    }
    val raw = vecs.toMap
    val local = (0L until 5L).flatMap { q =>
      val pool = vecs.map(_._1).filter(_ != q)
        .map(c => (c, dot8(codes(q), codes(c))))
        .sortBy { case (c, dt) => (-dt, c) }.take(10)
      pool.map { case (c, dt) => (c, dt, cosine(raw(q), raw(c))) }
        .sortBy { case (c, _, cs) => (-cs, c) }.take(4).zipWithIndex
        .map { case ((c, dt, cs), r) => (q, r + 1, c, dt, cs) }
    }.toSet
    assert(out == local)
  }

  test("kCenterCoreset == local farthest-point traversal on random vectors") {
    val rnd = new scala.util.Random(0xACE)
    val vecs = (0L until 70L).map(i =>
      (i, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
    val out = Sampling.kCenterCoreset(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 6)
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    val micro = vecs.map { case (i, v) =>
      i -> v.map(x => math.floor(x.toDouble * 1e6).toLong)
    }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val first = vecs.map(_._1).min
    var picks = Vector((1, first, 0L))
    var best = vecs.map(_._1).map(i => i -> d2(micro(i), micro(first))).toMap
    for (r <- 2 to 6) {
      val chosen = picks.map(_._2).toSet
      val (pid, rad) = best.filterNot { case (i, _) => chosen(i) }
        .toSeq.sortBy { case (i, v) => (-v, i) }.head
      picks :+= ((r, pid, rad))
      best = best.map { case (i, v) =>
        i -> math.min(v, d2(micro(i), micro(pid)))
      }
    }
    assert(out == picks)
  }

  test("harmonicCentrality == local per-source BFS sum on a random digraph") {
    val rnd = new scala.util.Random(0x4A2)
    val n = 100
    val edges = Seq.fill(450)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val sources = (0L until n.toLong).filter(_ % 9 == 0)
    val out = Graph.harmonicCentrality(edges.toDF("s", "d"), "s", "d",
        sources.toDF("node"), "node", maxHops = 6)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      .withDefaultValue((0L, 0L))
    for (s0 <- sources) {
      var dist = Map(s0 -> 0L)
      var frontier = Set(s0)
      var h = 1L
      while (frontier.nonEmpty && h <= 6) {
        val nxt = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filterNot(dist.contains)
        dist ++= nxt.map(_ -> h)
        frontier = nxt
        h += 1
      }
      for ((v, d) <- dist if d >= 1) {
        val (r, hm) = acc(v)
        acc(v) = (r + 1, hm + 1000000L / d)
      }
    }
    assert(out == acc.toMap)
  }

  test("kendallTauB == local O(n^2) pair counting on random tied rankings") {
    val rnd = new scala.util.Random(0x7AB)
    val qs = (1L to 6L)
    def mk() = qs.flatMap { q =>
      val ids = rnd.shuffle((1L to 15L).toList).take(10)
      ids.map(id => (q, id, (rnd.nextInt(6) + 1).toLong)) // ranks with ties
    }
    val a = mk(); val b = mk()
    val out = Retrieval.kendallTauB(a.toDF("query_id", "id", "rank"),
        b.toDF("query_id", "id", "rank"), "query_id", "id", "rank")
      .as[(Long, Long, Long, Long, Long, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    for (q <- qs) {
      val am = a.filter(_._1 == q).map(t => t._2 -> t._3).toMap
      val bm = b.filter(_._1 == q).map(t => t._2 -> t._3).toMap
      val shared = (am.keySet & bm.keySet).toSeq.sorted
      var c = 0L; var dd = 0L; var ta = 0L; var tb = 0L; var np = 0L
      for (i <- shared.indices; j <- (i + 1) until shared.size) {
        val (x, y) = (shared(i), shared(j))
        val da = java.lang.Long.signum(am(x) - am(y))
        val db = java.lang.Long.signum(bm(x) - bm(y))
        np += 1
        if (da * db == 1) c += 1
        if (da * db == -1) dd += 1
        if (da == 0) ta += 1
        if (db == 0) tb += 1
      }
      val den = math.sqrt(((np - ta) * (np - tb)).toDouble)
      val tau = if (den > 0.0)
        BigDecimal((c - dd).toDouble / den)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      else 0.0
      assert(out(q) == ((q, shared.size.toLong, np, c, dd, ta, tb, tau)),
        s"query $q: ${out(q)}")
    }
  }

  test("prefix-filtered Jaccard == full inverted-index Jaccard on random docs") {
    val rnd = new scala.util.Random(0x94C)
    val words = (1 to 40).map(i => s"w$i")
    // random base docs + planted near-dups (one word swapped) so pairs
    // exist at both thresholds; the random remainder exercises the
    // no-pair bulk
    val bases = (1L to 40L).map(i =>
      (i, Seq.fill(12)(words(rnd.nextInt(words.size)))))
    val dups = bases.take(12).map { case (i, ws) =>
      (i + 1000L, ws.updated(rnd.nextInt(ws.size), "swapped").mkString(" "))
    }
    val docs = (bases.map { case (i, ws) => (i, ws.mkString(" ")) } ++ dups)
      .toDF("doc_id", "text")
    for (t <- Seq(0.4, 0.6)) {
      val full = Dedup.ngramJaccardDupPairs(docs, "doc_id", "text", 2, t)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.ngramJaccardPrefixPairs(docs, "doc_id", "text", 2, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == full, s"t=$t")
      assert(full.nonEmpty, s"t=$t fixture must produce pairs")
    }
  }

  test("betweennessCentrality == local Brandes with the same micro " +
       "floors on a random undirected graph") {
    val rnd = new scala.util.Random(0xBC14)
    val n = 60
    val und = Seq.fill(140)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val edges = (und ++ und.map(_.swap)).toDF("s", "d")
    val sources = (0L until n.toLong).filter(_ % 5 == 0)
    val maxHops = 4
    val out = Graph.betweennessCentrality(edges, "s", "d",
        sources.toDF("node"), "node", maxHops)
      .as[(Long, Long)].collect().toMap
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).distinct }
    val bc = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for (s <- sources) {
      // forward: layered sigma (BFS with shortest-path counts)
      var layers = Vector(Map(s -> 1L))
      var seen = Set(s)
      var done = false
      while (layers.length <= maxHops && !done) {
        val nxt = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        for ((u, sig) <- layers.last; v <- adj.getOrElse(u, Nil)
             if !seen.contains(v)) nxt(v) += sig
        if (nxt.isEmpty) done = true
        else { layers = layers :+ nxt.toMap; seen ++= nxt.keySet }
      }
      // backward: per-edge floored dependency, one delta map PER layer
      val maxL = layers.length - 1
      val deltas = Array.fill(layers.length)(Map.empty[Long, Long])
      if (maxL >= 1) {
        deltas(maxL) = layers(maxL).map { case (v, _) => v -> 0L }
        for (i <- maxL - 1 to 1 by -1) {
          val below = layers(i + 1)
          deltas(i) = layers(i).map { case (v, sig) =>
            v -> adj.getOrElse(v, Nil).collect {
              case w if below.contains(w) =>
                sig * (1000000L + deltas(i + 1)(w)) / below(w)
            }.sum
          }
        }
        for (i <- 1 to maxL; (v, d) <- deltas(i)) bc(v) += d
      }
    }
    assert(out == bc.toMap && out.nonEmpty)
  }

  test("skyline2D == local NOT-EXISTS dominance on random ties-heavy " +
       "points") {
    val rnd = new scala.util.Random(0x5C1)
    val pts = (0L until 300L).map(i =>
      (i, rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
    val out = Ranking.skyline2D(pts.toDF("id", "x", "y"), "x", "y")
      .select($"id").as[Long].collect().toSet
    val local = pts.filter { p =>
      !pts.exists(q => q._2 >= p._2 && q._3 >= p._3 &&
        (q._2 > p._2 || q._3 > p._3))
    }.map(_._1).toSet
    assert(out == local && local.nonEmpty)
  }

  test("markovStationary == local micro/pico iteration on a random " +
       "weighted chain") {
    val rnd = new scala.util.Random(0x3A7)
    val k = 12
    val edges = (for {
      i <- 0 until k; j <- 0 until k
      if i != j && rnd.nextInt(3) == 0
    } yield (i.toLong, j.toLong, rnd.nextInt(5).toLong + 1L)).toSeq
    val out = Sessions.markovStationary(edges.toDF("i", "j", "c"),
        "i", "j", "c", iterations = 4)
      .as[(Long, Long)].collect().toMap
    val tot = edges.groupBy(_._1).map { case (a, v) => a -> v.map(_._3).sum }
    val p = edges.map { case (i, j, c) => (i, j) -> 1000000L * c / tot(i) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var pi = nodes.map(_ -> 1000000000000L / nodes.size).toMap
    for (_ <- 1 to 4) {
      val in = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for (((i, j), pm) <- p) in(j) += pi(i) * pm / 1000000L
      pi = nodes.map(v =>
        v -> (in(v) + (if (tot.contains(v)) 0L else pi(v)))).toMap
    }
    assert(out == pi)
  }

  test("seasonalDecomposeOverDailyCounts == local formulas on a gappy " +
       "random series") {
    val rnd = new scala.util.Random(0x5EA)
    val days = (0 to 40).filter(_ => rnd.nextInt(8) > 0) // ~12% gaps
      .map(d => (d.toLong, rnd.nextInt(50).toLong + 1L))
    val df = days.map { case (d, x) =>
      (java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)), x)
    }.toDF("bucket", "x")
    val out = Drift.seasonalDecomposeOverDailyCounts(df)
      .as[(java.sql.Date, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1.toLocalDate.toEpochDay ->
        ((r._2, r._3, r._4, r._5, r._6))).toMap
    val cnt = days.toMap
    def fd(a: Long, b: Long) = { val m = ((a % b) + b) % b; (a - m) / b }
    val trend = days.map(_._1).flatMap { d =>
      val w = (-3L to 3L).map(o => cnt.get(d + o))
      if (w.forall(_.isDefined)) Some(d -> fd(1000000L * w.flatten.sum, 7L))
      else None
    }.toMap
    val det = trend.map { case (d, t) => d -> (1000000L * cnt(d) - t) }
    val seas = det.groupBy { case (d, _) => ((d % 7) + 7) % 7 }
      .map { case (s, m) => s -> fd(m.values.sum, m.size.toLong) }
    val local = trend.keys.map { d =>
      val s = ((d % 7) + 7) % 7
      d -> ((cnt(d), s, trend(d), seas(s), det(d) - seas(s)))
    }.toMap
    assert(out == local && local.nonEmpty)
  }

  // ---- streaming-fold differentials: per-batch register frames under
  // RANDOMIZED batch splits must fold to the whole-corpus build — the
  // property every runIncremental*Maintain runner leans on, pinned here
  // on splits nobody hand-picked (the crafted specs use fixed thirds).

  /** Random batch assignment: value i goes to batch hash(seed, i) mod n. */
  private def randSplit[T](rows: Seq[T], n: Int, seed: Int): Seq[Seq[T]] = {
    val rnd = new scala.util.Random(seed)
    val tag = rows.map(r => (r, rnd.nextInt(n)))
    (0 until n).map(b => tag.filter(_._2 == b).map(_._1))
  }

  test("cm fold == whole-corpus counters under a random 4-way batch split") {
    val rnd = new scala.util.Random(0xC41)
    val words = Seq.fill(3000)(s"w${math.abs(rnd.nextGaussian() * 40).toInt}")
    val whole = Sketch.cmCounters(words.toDF("w"), "w", depth = 4, width = 64)
      .as[(Long, Long, Long)].collect().toSet
    val parts = randSplit(words, 4, 0xC42)
    assert(parts.forall(_.nonEmpty))
    val folded = Sketch.cmMerge(
        parts.map(p => Sketch.cmCounters(p.toDF("w"), "w", 4, 64)): _*)
      .as[(Long, Long, Long)].collect().toSet
    assert(folded == whole && whole.nonEmpty)
  }

  test("hll max-fold == whole-corpus registers under a random 5-way " +
       "split; estimate identical") {
    val rnd = new scala.util.Random(0x411)
    val words = Seq.fill(4000)(s"u${rnd.nextInt(1500)}")
    val whole = Sketch.hllRegisters(words.toDF("w"), "w", p = 8)
    val parts = randSplit(words, 5, 0x412)
    val folded = Sketch.hllMerge(
      parts.filter(_.nonEmpty)
        .map(p => Sketch.hllRegisters(p.toDF("w"), "w", p = 8)): _*)
    val a = whole.as[(Long, Long)].collect().toSet
    val b = folded.as[(Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
    val ea = Sketch.hllEstimate(whole).collect().toSeq
    val eb = Sketch.hllEstimate(folded).collect().toSeq
    assert(ea.toString == eb.toString)
  }

  test("kmv bottom-k fold == whole-corpus registers under a random " +
       "3-way split") {
    val rnd = new scala.util.Random(0x3A7)
    val words = Seq.fill(2500)(s"t${rnd.nextInt(900)}")
    val whole = Sketch.kmvRegisters(words.toDF("w"), "w", k = 64)
      .as[Long].collect().toSet
    val parts = randSplit(words, 3, 0x3A8)
    val folded = Sketch.kmvMerge(64,
        parts.filter(_.nonEmpty)
          .map(p => Sketch.kmvRegisters(p.toDF("w"), "w", k = 64)): _*)
      .as[Long].collect().toSet
    assert(folded == whole && whole.size == 64)
  }

  test("loghist keyed-sum fold == whole-corpus registers under a random " +
       "4-way split; quantile read-out identical") {
    val rnd = new scala.util.Random(0x106)
    val vals = Seq.fill(3000)(1L + math.abs(rnd.nextGaussian() * 500).toLong)
    val whole = Sketch.logHistRegisters(vals.toDF("v"), "v",
      unitScale = 1L, subBits = 3)
    val parts = randSplit(vals, 4, 0x107)
    val folded = Sketch.logHistMerge(
      parts.filter(_.nonEmpty).map(p =>
        Sketch.logHistRegisters(p.toDF("v"), "v", 1L, 3)): _*)
    val a = whole.as[(Int, Long, Long, Long)].collect().toSet
    val b = folded.as[(Int, Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
    val qa = Sketch.logHistQuantiles(whole, 10, unitScale = 1L)
      .collect().toSeq
    val qb = Sketch.logHistQuantiles(folded, 10, unitScale = 1L)
      .collect().toSeq
    assert(qa.toString == qb.toString)
  }

  test("kll merge-fold under a random 3-way split: deterministic under " +
       "repartition, every quantile within the documented rank bound " +
       "of the exact order statistics") {
    val rnd = new scala.util.Random(0x511)
    val n = 4000
    val vals = (0 until n).map(i => (i.toLong, rnd.nextInt(100000).toLong))
    val k = 128
    val parts = randSplit(vals, 3, 0x512)
    def regsOf(p: Seq[(Long, Long)]) =
      Sketch.kllRegisters(p.toDF("id", "v"), "v", "id", k = k)
    val folded = Sketch.kllMerge(k, parts.map(regsOf): _*)
      .localCheckpoint()
    // (a) determinism: the merge result ignores input partitioning
    val folded2 = Sketch.kllMerge(k,
      parts.map(p => Sketch.kllRegisters(
        p.toDF("id", "v").repartition(7), "v", "id", k = k)): _*)
    assert(folded.collect().toSeq == folded2.collect().toSeq)
    // (b) rank accuracy vs the EXACT local order statistics: each
    // register-weighted quantile estimate must sit within a few max
    // register weights (<= 2n/cap per merge depth) of its target rank
    val q = 10
    val est = Sketch.kllQuantiles(folded, q)
      .as[(Long, Double)].collect().toMap
    val sorted = vals.map(_._2).sorted
    val tol = 6 * n / (2 * k) // 6 max-weight registers of slack
    for (i <- 1 to q) {
      val target = (i.toLong * n) / q - 1
      val v = est(i.toLong)
      // rank window of the estimate value in the exact ordering
      val loRank = sorted.indexWhere(_ >= v)
      val hiRank = sorted.lastIndexWhere(_ <= v)
      val dist = math.min(math.abs(loRank - target),
        math.abs(hiRank - target))
      assert(dist <= tol, s"q$i: est $v rank-dist $dist > tol $tol")
    }
  }

  test("daily-count keyed-sum fold == whole-series periodogram under a " +
       "random per-day shard split") {
    val rnd = new scala.util.Random(0x9E1)
    val days = (0 to 40).map(d =>
      (java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)),
        5L + rnd.nextInt(50)))
    val whole = days.toDF("bucket", "x")
    // each day's count splits into 1-3 random positive parts, shuffled
    val shards = days.flatMap { case (b, x) =>
      val n = 1 + rnd.nextInt(math.min(3, x.toInt))
      val cuts = Seq.fill(n - 1)(1L + rnd.nextInt(x.toInt - 1).toLong)
        .sorted.distinct
      val bounds = 0L +: cuts :+ x
      bounds.sliding(2).map { case Seq(a, c) => (b, c - a) }
        .filter(_._2 > 0).toSeq
    }
    val foldedPg = Drift.periodogramOverDailyCounts(
        shards.toDF("bucket", "x"), maxK = 8)
      .collect().toSeq
    val wholePg = Drift.periodogramOverDailyCounts(whole, maxK = 8)
      .collect().toSeq
    assert(foldedPg.toString == wholePg.toString && wholePg.nonEmpty)
    val foldedSd = Drift.seasonalDecomposeOverDailyCounts(
        shards.toDF("bucket", "x")).collect().toSeq
    val wholeSd = Drift.seasonalDecomposeOverDailyCounts(whole)
      .collect().toSeq
    assert(foldedSd.toString == wholeSd.toString && wholeSd.nonEmpty)
  }

  test("Recipe.curateIncremental (two batches) == a local model of the " +
       "incremental chain: history sets evolve exactly as the persisted " +
       "indexes, splits are family-stable across batches") {
    val rnd = new scala.util.Random(0x1C8E)
    val srcs = Seq("s0", "s1", "bench")
    def mkText(len: Int): String =
      Seq.fill(len)("u" + rnd.nextInt(400)).mkString(" ")
    val b1Docs = (0L until 90L).map(i =>
      (i, srcs(rnd.nextInt(3)), mkText(30 + rnd.nextInt(80))))
    // batch 2: organic docs + cross-batch plants copied from batch 1
    val b2Base = (200L until 280L).map(i =>
      (i, srcs(rnd.nextInt(2)), mkText(30 + rnd.nextInt(80))))
    def pick(n: Int, from: Seq[(Long, String, String)]) =
      rnd.shuffle(from).take(n)
    val exactPlants = pick(10, b1Docs).map { case (i, s, t) =>
      (1000L + i, s, t) }
    val nearPlants = pick(8, b1Docs).map { case (i, s, t) =>
      (2000L + i, s, t + " zz") }
    val crossPlants = pick(6, b1Docs.filter(_._2 != "bench"))
      .map { case (i, s, t) =>
        (3000L + i, if (s == "s0") "s1" else "s0", t + " zz") }
    val b2Docs = b2Base ++ exactPlants ++ nearPlants ++ crossPlants
    val (minT, maxT, nearThr, conThr, budget, famSize, shardB) =
      (35L, 100L, 0.85, 0.7, 500L, 10L, 150L)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    val (fpT, mhT, bnT) = (s"rd_fp_$tag", s"rd_mh_$tag", s"rd_bn_$tag")
    Recipe.initRecipeIndexes(spark, fpT, mhT, bnT, buckets = 2)
    try {
      def go(docs: Seq[(Long, String, String)]) =
        Recipe.curateIncremental(docs.toDF("doc_id", "source", "text"),
          "doc_id", "source", "text", benchmarkSource = "bench",
          fpT, mhT, bnT, minTokens = minT, maxTokens = maxT,
          nearThreshold = nearThr, contaminationThreshold = conThr,
          tau = 0.5, budgetDocs = budget, familySize = famSize,
          headTokens = 20, tailTokens = 10, shardBudget = shardB,
          buckets = 2)
      val (s1, a1) = go(b1Docs)
      val (s2, a2) = go(b2Docs)

      // ---- the local model, batch by batch ----
      def ntk(t: String) = t.trim.split("\\s+").length.toLong
      def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
      def sh3(t: String) =
        t.trim.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
      def jac(a: Set[String], b: Set[String]): Double = {
        val i = (a & b).size.toDouble
        BigDecimal(i / (a.size + b.size - i))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      def knuth(x: Long) = ((x % 2147483648L) * 2654435761L) % 4294967296L
      def md5sur(salt: String, key: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$salt#$key".getBytes("UTF-8"))
        java.lang.Long.parseLong(
          d.map("%02x".format(_)).mkString.take(15), 16) % 1000000000L
      }
      // history accumulated across batches, exactly the index policies:
      // fingerprint <- exact-stage survivors; minhash <- near-stage
      // survivors (with source); bench ngrams <- benchmark docs
      var histNorms = Set.empty[String]
      var histNear = Seq.empty[(Long, String, Set[String])]
      var histBench = Seq.empty[Set[String]]
      def localBatch(docs: Seq[(Long, String, String)])
          : (Set[(Long, String, Long, String, Long, Long)], Map[Long, String]) = {
        val firstDrop = scala.collection.mutable.Map.empty[Long, String]
        val qual = docs.filter { case (i, _, t) =>
          val ok = ntk(t) >= minT && ntk(t) <= maxT
          if (!ok) firstDrop(i) = "quality"; ok
        }
        val keepByNorm = qual.groupBy(d => norm(d._3))
          .map { case (_, ds) => ds.map(_._1).min }.toSet
        val exact = qual.filter { d =>
          val ok = keepByNorm(d._1) && !histNorms.contains(norm(d._3))
          if (!ok) firstDrop(d._1) = "exact_dup"; ok
        }
        val shOf = exact.map(d => d._1 -> sh3(d._3)).toMap
        val near = exact.filter { d =>
          val inBatch = exact.exists(e => e._2 == d._2 && e._1 < d._1 &&
            jac(shOf(e._1), shOf(d._1)) >= nearThr)
          val vsHist = histNear.exists { case (_, s, sh) =>
            s == d._2 && jac(sh, shOf(d._1)) >= nearThr }
          if (inBatch || vsHist) firstDrop(d._1) = "near_dup"
          !(inBatch || vsHist)
        }
        val (benchKept, corpusKept) = near.partition(_._2 == "bench")
        benchKept.foreach(d => firstDrop(d._1) = "benchmark")
        val benchShAll = histBench ++ benchKept.map(d => shOf(d._1))
        val decon = corpusKept.filter { d =>
          val bad = benchShAll.exists(bs => jac(bs, shOf(d._1)) >= conThr)
          if (bad) firstDrop(d._1) = "contaminated"; !bad
        }
        val cnt = decon.groupBy(_._2).map { case (s, ds) => s -> ds.size }
        val z = cnt.values.map(n => math.pow(n, 0.5)).sum
        val thr = cnt.map { case (s, n) => s -> math.floor(math.min(1.0,
          budget.toDouble * math.pow(n, 0.5) / z / n) * 4294967296.0).toLong }
        val mixed = decon.filter { d =>
          val keep = knuth(md5sur("recipemix", d._1.toString)) < thr(d._2)
          if (!keep) firstDrop(d._1) = "mix_budget"; keep
        }
        // batch-stable split: the FAMILY KEY surrogate, not the
        // component label — identical families agree across batches
        def splitOf(d: (Long, String, String)): String = {
          val fam = math.floorDiv(d._1, famSize)
          val h = knuth(md5sur("recipesplit", s"${d._2}|$fam"))
          if (h < 3435973836L) "train"
          else if (h < 3865470566L) "val" else "test"
        }
        val kept = mixed.map(d => d._1 -> math.min(ntk(d._3), 30L)).toMap
        var pre = 0L
        val shardOf = mixed.sortBy(d => (knuth(d._1), d._1)).map { d =>
          val sh = pre / shardB; pre += kept(d._1); d._1 -> sh
        }.toMap
        // evolve history exactly like the appends
        histNorms ++= exact.map(d => norm(d._3))
        histNear ++= near.map(d => (d._1, d._2, shOf(d._1)))
        histBench ++= benchKept.map(d => shOf(d._1))
        (mixed.map(d => (d._1, d._2, ntk(d._3), splitOf(d), kept(d._1),
          shardOf(d._1))).toSet, firstDrop.toMap)
      }
      val (exp1, led1) = localBatch(b1Docs)
      val (exp2, led2) = localBatch(b2Docs)
      def gotOf(df: org.apache.spark.sql.DataFrame) =
        df.select($"doc_id", $"source", $"n_tokens", $"split",
            $"n_tokens_kept", $"shard")
          .as[(Long, String, Long, String, Long, Long)].collect().toSet
      assert(gotOf(s1) == exp1,
        s"b1 diff: extra=${gotOf(s1) -- exp1} missing=${exp1 -- gotOf(s1)}")
      assert(gotOf(s2) == exp2,
        s"b2 diff: extra=${gotOf(s2) -- exp2} missing=${exp2 -- gotOf(s2)}")
      def ledOf(df: org.apache.spark.sql.DataFrame) =
        df.select($"doc_id", $"stage").as[(Long, String)].collect().toMap
      assert(ledOf(a1) == led1)
      assert(ledOf(a2) == led2)
      // cross-source plants must never die at the within-source stage
      crossPlants.foreach { case (i, _, _) =>
        assert(!led2.get(i).contains("near_dup"), s"plant $i") }
    } finally {
      Seq(fpT, s"${mhT}_bands", s"${mhT}_shingles", bnT).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("Recipe.curateWithAudit == a local model of the whole 8-stage " +
       "chain on a seeded-random corpus with planted dup/leak rates — " +
       "survivors, shards, splits, and the per-doc first-drop ledger") {
    val rnd = new scala.util.Random(0x8EC1)
    val trainSrcs = Seq("s0", "s1", "s2")
    def mkText(len: Int): String =
      Seq.fill(len)("t" + rnd.nextInt(500)).mkString(" ")
    // base docs: random source, lengths straddling the [35,100] band
    val baseDocs = (0L until 200L).map(i =>
      (i, trainSrcs(rnd.nextInt(3)), mkText(25 + rnd.nextInt(86))))
    val benchDocs = (200L until 210L).map(i =>
      (i, "bench", mkText(40 + rnd.nextInt(40))))
    def pick(n: Int, from: Seq[(Long, String, String)]) =
      rnd.shuffle(from).take(n)
    // planted exact dups (same text, bigger id), same-source near dups
    // (one appended token), cross-source near dups (must NOT drop at
    // stage 4), benchmark leaks into a training source
    val exactPlants = pick(15, baseDocs).map { case (i, s, t) =>
      (1000L + i, s, t) }
    val nearPlants = pick(12, baseDocs).map { case (i, s, t) =>
      (2000L + i, s, t + " zz") }
    val crossPlants = pick(8, baseDocs).map { case (i, s, t) =>
      (3000L + i, trainSrcs((trainSrcs.indexOf(s) + 1) % 3), t + " zz") }
    val leakPlants = pick(5, benchDocs).map { case (i, _, t) =>
      (4000L + i, "s0", t + " yy") }
    val corpus =
      baseDocs ++ benchDocs ++ exactPlants ++ nearPlants ++
        crossPlants ++ leakPlants
    val (minT, maxT, nearThr, conThr, budget, famSize, shardB) =
      (35L, 100L, 0.85, 0.7, 120L, 10L, 200L)
    val (surv, audit) = Recipe.curateWithAudit(
      corpus.toDF("doc_id", "source", "text"), "doc_id", "source", "text",
      benchmarkSource = "bench", minTokens = minT, maxTokens = maxT,
      nearThreshold = nearThr, contaminationThreshold = conThr,
      tau = 0.5, budgetDocs = budget, familySize = famSize,
      headTokens = 20, tailTokens = 10, shardBudget = shardB)

    // ---- the local model ----
    def ntk(t: String) = t.trim.split("\\s+").length.toLong
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    def sh3(t: String) =
      t.trim.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
    def jac(a: Set[String], b: Set[String]): Double = {
      val i = (a & b).size.toDouble
      BigDecimal(i / (a.size + b.size - i))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def knuth(x: Long) = ((x % 2147483648L) * 2654435761L) % 4294967296L
    def md5sur(salt: String, key: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt#$key".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16) % 1000000000L
    }
    val firstDrop = scala.collection.mutable.Map.empty[Long, String]
    // 1+2. quality band
    val qual = corpus.filter { case (i, _, t) =>
      val n = ntk(t)
      val ok = n >= minT && n <= maxT
      if (!ok) firstDrop(i) = "quality"
      ok
    }
    // 3. exact: min id per normalized text
    val keepByNorm = qual.groupBy(d => norm(d._3))
      .map { case (_, ds) => ds.map(_._1).min }.toSet
    val exact = qual.filter { d =>
      val ok = keepByNorm(d._1)
      if (!ok) firstDrop(d._1) = "exact_dup"
      ok
    }
    // 4. near within source: d drops iff some same-source smaller-id
    // exact-survivor reaches the Jaccard threshold (the LSH pair set
    // equals the exact pair set at these J values)
    val shOf = exact.map(d => d._1 -> sh3(d._3)).toMap
    val near = exact.filter { d =>
      val dup = exact.exists(e => e._2 == d._2 && e._1 < d._1 &&
        jac(shOf(e._1), shOf(d._1)) >= nearThr)
      if (dup) firstDrop(d._1) = "near_dup"
      !dup
    }
    // 5a. benchmark leaves; contamination vs surviving bench docs
    val (benchKept, corpusKept) = near.partition(_._2 == "bench")
    benchKept.foreach(d => firstDrop(d._1) = "benchmark")
    val benchSh = benchKept.map(d => shOf(d._1))
    val decon = corpusKept.filter { d =>
      val bad = benchSh.exists(bs => jac(bs, shOf(d._1)) >= conThr)
      if (bad) firstDrop(d._1) = "contaminated"
      !bad
    }
    // 6. temperature mix: per-source doc-count thresholds, salted
    // surrogate key through the knuth band
    val cnt = decon.groupBy(_._2).map { case (s, ds) => s -> ds.size }
    val z = cnt.values.map(n => math.pow(n, 0.5)).sum
    val thr = cnt.map { case (s, n) =>
      s -> math.floor(math.min(1.0,
        budget.toDouble * math.pow(n, 0.5) / z / n) * 4294967296.0).toLong
    }
    val mixed = decon.filter { d =>
      val keep = knuth(md5sur("recipemix", d._1.toString)) < thr(d._2)
      if (!keep) firstDrop(d._1) = "mix_budget"
      keep
    }
    // 7. split: every family member gets the family's min KEPT id's band
    val famMin = mixed.groupBy(d => (d._2, d._1 / famSize))
      .map { case (k, ds) => k -> ds.map(_._1).min }
    def splitOf(d: (Long, String, String)): String = {
      val h = knuth(famMin((d._2, d._1 / famSize)))
      if (h < 3435973836L) "train"
      else if (h < 3865470566L) "val" else "test"
    }
    // 8. pack + shard: exclusive-prefix running sum over (knuth(id), id)
    val kept = mixed.map(d => d._1 -> math.min(ntk(d._3), 30L)).toMap
    var pre = 0L
    val shardOf = mixed.sortBy(d => (knuth(d._1), d._1)).map { d =>
      val s = pre / shardB
      pre += kept(d._1)
      d._1 -> s
    }.toMap
    val expected = mixed.map(d =>
      (d._1, d._2, ntk(d._3), splitOf(d), kept(d._1), shardOf(d._1))).toSet

    val got = surv.select($"doc_id", $"source", $"n_tokens", $"split",
        $"n_tokens_kept", $"shard")
      .as[(Long, String, Long, String, Long, Long)].collect().toSet
    assert(got == expected,
      s"survivor diff: extra=${got -- expected} missing=${expected -- got}")
    // cross-source plants never dropped at stage 4
    val ledger = audit.select($"doc_id", $"stage").as[(Long, String)]
      .collect().toMap
    crossPlants.foreach { case (i, _, _) =>
      assert(!ledger.get(i).contains("near_dup"),
        s"cross-source plant $i dropped at the within-source stage") }
    // the drop ledger == the local first-drop map; conservation
    assert(ledger == firstDrop.toMap,
      s"ledger diff: extra=${ledger.toSet -- firstDrop.toSet} " +
        s"missing=${firstDrop.toSet -- ledger.toSet}")
    assert(got.map(_._1).intersect(ledger.keySet).isEmpty)
    assert(got.map(_._1) ++ ledger.keySet == corpus.map(_._1).toSet)
  }
}
