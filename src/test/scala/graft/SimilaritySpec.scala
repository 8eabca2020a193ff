package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.similarity.{Neighbor, Similarity}

class SimilaritySpec extends AnyFunSuite with SharedSpark {

  test("dot_product native expression: correct, SQL-callable, no UDF in plan") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val viaCol = df.select(
      graft.functions.DotProductExpr.dot_product(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"))).as[Double].head()
    assert(viaCol == 32.0)
    df.createOrReplaceTempView("dp_test")
    val viaSql = spark.sql("SELECT dot_product(a, b) FROM dp_test").as[Double].head()
    assert(viaSql == 32.0)
    val plan = Similarity.similarTopk(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"),
      s"similarity scoring should be the native expression, not a UDF:\n$plan")
  }

  test("BoundedTopK merge keeps the best k by (sim desc, id asc)") {
    import spark.implicits._
    val agg = new graft.operators.BoundedTopK[Neighbor](
      3, Similarity.neighborBetter)
    val scores = Seq(0.5, 0.9, 0.1, 0.9, 0.7).zipWithIndex.map {
      case (s, i) => Neighbor(s, i.toLong)
    }
    val result = scores.foldLeft(agg.zero)(agg.reduce)
    assert(result == Seq(Neighbor(0.9, 1), Neighbor(0.9, 3), Neighbor(0.7, 4)))
    // merge in two halves gives the same answer (partial-agg correctness)
    val (l, r) = scores.splitAt(2)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged == result)
  }

  test("similar_topk returns exactly k neighbors per probe, self excluded") {
    import spark.implicits._
    val rows = Similarity.similarTopk(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.keySet == (0L until Similarity.NumProbes.toLong).toSet)
    byProbe.foreach { case (p, ns) =>
      assert(ns.length == Similarity.K)
      assert(!ns.exists(_._2 == p), "self must be excluded")
      // descending similarity
      val sims = ns.sortBy(-_._3).map(_._3).toSeq
      assert(sims == ns.map(_._3).sorted(Ordering[Double].reverse).toSeq)
    }
  }

  test("ANN results are a subset of each probe's bucket and truthful sims") {
    import spark.implicits._
    val ann = Similarity.similarAnnLsh(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    val exact = Similarity.similarTopk(spark, sfDir)
      .as[(Long, Long, Double)].collect()
      .map { case (p, n, s) => (p, n) -> s }.toMap
    // any ANN pair that is also in the exact top-k must carry the same sim
    ann.foreach { case (p, n, s) =>
      exact.get((p, n)).foreach(es => assert(math.abs(es - s) < 1e-9))
    }
    assert(ann.groupBy(_._1).values.forall(_.length <= Similarity.K))
  }

  test("hyperplanes are ±1 and deterministic") {
    val p = Similarity.planes
    assert(p.length == Similarity.LshBits)
    assert(p.forall(_.length == Similarity.Dim))
    assert(p.flatten.forall(x => x == 1.0 || x == -1.0))
    assert(Similarity.planeEntry(0, 0) == Similarity.planeEntry(0, 0))
  }

  test("multi-probe lifts recall over single-probe at the same bits") {
    import spark.implicits._
    val exact = Similarity.similarTopk(spark, sfDir)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("probe_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val single = recall(Similarity.similarAnnLsh(spark, sfDir))
    val multi = recall(Similarity.similarAnnMultiprobe(spark, sfDir))
    // Hamming-1 probing searches a strict superset of the single-probe
    // candidates, so recall can only go up; on this corpus it is ~10×.
    // (Absolute recall is low by design: the synthetic embeddings are
    // near-uniform, so exact top-5 neighbors sit at cosine ~0.3 where
    // 6-bit hyperplane LSH is weak — the fixture measures the KNOB, a
    // production index tunes bits/probes to its similarity profile.)
    assert(multi >= single)
    assert(multi >= 0.2, s"multi-probe recall regressed: $multi")
  }

  test("embedding_neardup_lsh emits a subset of the exact pairs, with usable recall") {
    val exact = Dedup.embeddingNeardup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.embeddingNeardupLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact-cosine verify guarantees no false positives
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${lsh -- exact}")
    // recall is the banding knob (1-(1-s^bits)^bands); at this fixture's
    // near-uniform ~0.35 similarity band it is intentionally partial —
    // pin a floor so a hashing regression can't silently zero it
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.15, s"LSH near-dup recall collapsed: $recall (${lsh.size}/${exact.size})")
  }

  test("similar_ann_ivfpq: ADC reads the STORED codes artifact — FileScan in the " +
    "plan, no query-time encode kernel") {
    // warm the artifact so the plan under test is the steady-state read path
    Similarity.embeddingPqCodesIndexed(spark, sfDir).count()
    val p = Similarity.similarAnnIvfPq(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("pq_codes"),
      s"ADC must scan the persisted codes artifact:\n$p")
    assert(!p.contains("MapElements"),
      s"no per-candidate PQ-encode kernel may remain in the query plan:\n$p")
  }

  test("semdedup_prune: per-cluster accounting closes and min-id members survive") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.semdedupPrune(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getAs[Long]("n_pruned") + r.getAs[Long]("n_kept")
        == r.getAs[Long]("n_vectors"), s"accounting broken: $r")
    // cluster membership totals must cover every vector exactly once
    val total = graft.Tables.load(spark, sfDir, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == total)
    // the keep-min-id election can never prune an entire cluster: the
    // lowest-id member has no lower-id witness, so every cluster keeps
    // at least one vector
    assert(rows.forall(_.getAs[Long]("n_kept") >= 1L))
  }

  test("IVF recall floor holds at sf1 cell occupancy (~1,250 vectors/cell)") {
    // VERDICT r7 #8: the sf0.01 fixture puts ~31 vectors in each of the
    // 16 trained cells — small enough that 2-of-16 probing is nearly
    // exhaustive. sf1 is the honest regime: 20 k vectors → ~1,250 per
    // cell, so the probe set covers only ~1/8 of the corpus and recall
    // genuinely depends on the coarse quantizer placing true neighbors
    // in the probed cells. Pin a measured floor so quantizer drift (or
    // a training regression) can't silently hollow the index out.
    assume(sf1Dir.isDefined, "sf1 testdata not generated on this machine")
    val sf1 = sf1Dir.get
    import spark.implicits._
    val exact = Similarity.similarTopk(spark, sf1)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.similarAnnIvf(spark, sf1)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    info(f"sf1 IVF recall@${Similarity.K}: $recall%.3f " +
      s"(probing ${Similarity.IvfProbeCells}/${Similarity.IvfCells} cells)")
    // measured 1.000: each probe's true top-5 are its perturbed
    // cross-copy near-dups (cosine ≈ 0.9999), and the quantizer puts a
    // vector and its slight perturbations in the same cell — exactly
    // the clustered-neighbor structure a real corpus has. The floor is
    // set just under the regime boundary: if training drift ever
    // splits a near-dup family across cells, recall drops in steps of
    // ≥1/50 and trips this long before the index is useless.
    assert(recall >= 0.9,
      s"sf1 IVF recall dipped below the measured floor: $recall — raise " +
        "IvfProbeCells (multi-probe knob) or retune the quantizer")
  }

  test("cell count scales with corpus size past the fixed-C regime") {
    // identity at every oracle-gated SF (the DuckDB replays must stay
    // bit-exact there)...
    assert(Similarity.cellsFor(200) == Similarity.IvfCells)    // sf0.01
    assert(Similarity.cellsFor(20000) == Similarity.IvfCells)  // sf1
    assert(Similarity.cellsFor(60000) == Similarity.IvfCells)  // sf3
    // ...then C = n / TargetCellSize: per-cell membership (and with it
    // semdedup's within-cell pair work) stops growing
    assert(Similarity.cellsFor(200000) == 48)                  // sf10
    assert(Similarity.cellsFor(2000000) == 488)
    val n = 10_000_000L
    assert(n / Similarity.cellsFor(n) <= Similarity.TargetCellSize + 1)
  }

  test("IVF k-means training converges and is deterministic") {
    val (cents, moves) = Similarity.trainIvfCentroidsWithTrace(spark, sfDir)
    assert(cents.length == Similarity.IvfCells)
    assert(cents.forall(_.length == Similarity.Dim))
    // centroids moved away from the raw seed, then the movement decays
    // as cells stabilize — the convergence signature of Lloyd's
    assert(moves.head > 0.0)
    assert(moves.last < moves.head)
    // two trainings agree exactly (quantized-long sums are order-free)
    val (cents2, _) = Similarity.trainIvfCentroidsWithTrace(spark, sfDir)
    assert(cents.flatten.toSeq == cents2.flatten.toSeq)
    // the two-level and PQ trainers run the same loop: bit-equal
    // reruns, and the two-level cells' movement decays too
    val (sup, cells, hierMoves) = Similarity.trainIvfCentroidsHierWithTrace(spark, sfDir)
    assert(hierMoves.last < hierMoves.head, hierMoves.toSeq)
    val (sup2, cells2) = Similarity.trainIvfCentroidsHier(spark, sfDir)
    assert(sup.flatten.toSeq == sup2.flatten.toSeq)
    assert(cells.flatten.flatten.toSeq == cells2.flatten.flatten.toSeq)
    val pq = Similarity.trainPqCodebooksFresh(spark, sfDir)
    val pq2 = Similarity.trainPqCodebooksFresh(spark, sfDir)
    assert(pq.flatten.flatten.toSeq == pq2.flatten.flatten.toSeq)
  }

  test("streaming gate cells: assignToCentroids equals ivfAssign in one " +
    "shuffle-free pass") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.col
    // the sf0.01 fixture beside the suite's shared sf0.001 one
    val dir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val gate = Similarity.assignToCentroids(spark, vecs,
      Similarity.trainIvfCentroids(spark, dir))
    val got = gate.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Similarity.ivfAssign(spark, dir).as[(Long, Long)].collect().toMap
    assert(got.size == vecs.count())
    assert(got == want, "the gate's cell space diverged from the IVF index's")
    val shuffles = new AdaptiveSparkPlanHelper {}
      .collect(gate.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.isEmpty,
      s"assignment must be one narrow pass:\n${gate.queryExecution.executedPlan}")
  }

  test("knn_graph_lsh: ranks contiguous, sims non-increasing, rank-1 bounded by exact top-1") {
    import spark.implicits._
    val g = Similarity.knnGraphLsh(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (v, rows) => v -> rows.sortBy(_._2) }
    assert(g.nonEmpty)
    for ((v, rows) <- g) {
      assert(rows.length <= Similarity.KnnGraphK)
      assert(rows.map(_._2).toSeq == (1L to rows.length).toSeq, s"ranks not contiguous for $v")
      val sims = rows.map(_._4)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, s"sims not sorted for $v")
      assert(rows.forall(r => r._3 != v), s"self-neighbor for $v")
    }
    // candidates are a subset of the corpus, so the graph's best
    // neighbor can never beat the exact brute-force best
    val exactBest = Similarity.similarTopk(spark, sfDir)
      .groupBy("probe_id").agg(org.apache.spark.sql.functions.max("sim").as("best"))
      .as[(Long, Double)].collect().toMap
    for ((v, rows) <- g; best <- exactBest.get(v))
      assert(rows.head._4 <= best + 1e-9, s"graph top-1 beats exact for $v")
  }

  test("similar_ann_ivfpq: k rows per probe, truthful sims, recall vs exact") {
    import spark.implicits._
    val got = Similarity.similarAnnIvfPq(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    val byProbe = got.groupBy(_._1)
    assert(byProbe.keySet == (0L until Similarity.NumProbes).toSet)
    assert(byProbe.values.forall(_.length == Similarity.K))
    // re-ranked sims are EXACT cosines: cross-check against the
    // brute-force scorer for every emitted pair
    val exactAll = Similarity.similarTopk(spark, sfDir)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val exactTop = exactAll.keySet
    // recall@K vs the exact top-K (bounded below by the 2-of-16-cell
    // IVF probe itself — measured 0.44 on this corpus)
    val hit = got.count(r => exactTop.contains((r._1, r._2)))
    val recall = hit.toDouble / (Similarity.NumProbes * Similarity.K)
    assert(recall >= 0.35, s"IVF-PQ recall@${Similarity.K} fell to $recall")
    // the ADC shortlist's OWN loss, isolated: against similar_ann_ivf
    // (identical candidate cells, exact re-rank of ALL members), the
    // PqRerank-deep integer-ADC shortlist must preserve nearly every
    // winner
    val ivfTop = Similarity.similarAnnIvf(spark, sfDir)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    val adcKept = got.count(r => ivfTop.contains((r._1, r._2)))
    val adcRecall = adcKept.toDouble / ivfTop.size
    assert(adcRecall >= 0.8, s"ADC shortlist lost too much: $adcRecall")
    // any pair ALSO in the exact result must carry the identical sim
    for (r <- got; e <- exactAll.get((r._1, r._2)))
      assert(r._3 == e, s"sim drift on (${r._1}, ${r._2})")
  }

  test("knn_bucket_audit: census ties out to the vector count, pair formula exact") {
    import spark.implicits._
    val rows = Similarity.knnBucketAudit(spark, sfDir)
      .as[(Int, Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    val n = Tables.load(spark, sfDir, "embeddings").count()
    // every vector lands in exactly one bucket per band
    for ((band, rs) <- rows.groupBy(_._1)) {
      assert(rs.map(r => r._2 * r._3).sum == n, s"band $band census != $n vectors")
    }
    // the pair formula is the exact uncapped candidate volume
    for ((_, occ, nb, pairs, over) <- rows) {
      assert(pairs == occ * (occ - 1) / 2 * nb)
      assert(over == (occ > Similarity.KnnBucketCap))
    }
  }

  test("KnnBucketCap bounds a hot family's candidate volume; every member keeps k neighbors") {
    import spark.implicits._
    // a synthetic near-dup family 3x the cap: near-identical vectors
    // agree on every hyperplane sign, so all land in ONE bucket per
    // band at any bit width — the sf100 blowup in miniature
    val fam = Similarity.KnnBucketCap * 3
    val dim = Similarity.Dim
    val base = Array.tabulate(dim)(d => math.sin(d + 1.0) + 2.0) // all-positive-ish, stable signs
    val vecs = (0 until fam).map { i =>
      val v = base.clone(); v(i % dim) += 1e-6 * (i + 1) // tiny nudges, signs unchanged
      (i.toLong, v)
    }.toDF("vec_id", "v")
      .withColumn("nrm", Similarity.norm(org.apache.spark.sql.functions.col("v")))
    val g = Similarity.knnGraphLshOf(spark, vecs, Similarity.LshBits)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect()
    // every member still gets a full top-k list (probing is uncapped)
    val byProbe = g.groupBy(_._1)
    assert(byProbe.keySet == (0L until fam.toLong).toSet,
      "a hot-family member lost its neighbor list to the cap")
    assert(byProbe.values.forall(_.length == Similarity.KnnGraphK))
    // ...but candidates come only from the capped lowest-id slice:
    // no neighbor id at or above the cap can appear
    assert(g.forall(_._2 < Similarity.KnnBucketCap),
      s"cap leaked: ${g.filter(_._2 >= Similarity.KnnBucketCap).take(5).toSeq}")
  }

  test("knn_graph_lsh: the KnnBucketCap window rides the TopKPerKey heap operator") {
    // the cap is a row_number-over-(band,bucket) ≤ K filter whose rank
    // column dies at the projection — exactly TopKWindowRewrite's
    // shape. Pin that it FIRES: the capped slice must cost one heap
    // pass per partition (O(n log cap)), never a full per-bucket sort
    // + Window (round-11 verdict #7).
    val p = Similarity.knnGraphLsh(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), s"bucket cap fell off the heap operator:\n$p")
    assert(!p.contains("WindowExec") && !"\\bWindow\\b".r.findFirstIn(p).isDefined,
      s"a Window survived in the capped graph build:\n$p")
  }

  test("knn_graph_recall: probe census complete, fractions truthful, graph rows consistent") {
    import spark.implicits._
    val got = Similarity.knnGraphRecall(spark, sfDir)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    // one row per probe, even a probe with zero hits
    assert(got.map(_._1).toSeq == (0L until Similarity.NumProbes.toLong),
      s"probe census incomplete: ${got.map(_._1).toSeq}")
    assert(got.forall { case (_, f, r, _) =>
      f >= 0 && f <= Similarity.KnnGraphK &&
        math.abs(r - f.toDouble / Similarity.KnnGraphK) < 1e-6
    })
    // found ties out to an independent recount of exact ∩ graph
    val exact = Similarity.similarTopk(spark, sfDir)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val graph = Similarity.knnGraphLsh(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < Similarity.NumProbes)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recount = got.map { case (p, _, _, _) =>
      exact.count(e => e._1 == p && graph.contains(e)).toLong
    }
    assert(got.map(_._2).toSeq == recount.toSeq, "found counts diverge from recount")
    // regime column: bounded by the probe's band count, and at this SF
    // (occupancy ≈ n/2^bits ≈ 8, cap 64) every bucket is under cap —
    // the sf0.001/sf0.01 censuses must self-report as cap-DORMANT
    assert(got.forall { case (_, _, _, oc) =>
      oc >= 0 && oc <= Similarity.NeardupBands
    })
    assert(got.forall(_._4 == 0L),
      s"cap reported binding in the dormant regime: ${got.map(_._4).toSeq}")
  }

  test("allocateCells: one-per-group floor, exact total, mass-proportional, deterministic") {
    assert(Similarity.allocateCells(16, Array(100L)).toSeq == Seq(16))
    val a = Similarity.allocateCells(16, Array(0L, 10L, 30L))
    assert(a.sum == 16 && a.forall(_ >= 1) && a(2) > a(1) && a(1) > a(0))
    assert(Similarity.allocateCells(16, Array(0L, 10L, 30L)).toSeq == a.toSeq)
    intercept[IllegalArgumentException] {
      Similarity.allocateCells(2, Array(1L, 1L, 1L))
    }
  }

  test("two-level quantizer: S = 1 degenerates to the flat quantizer bit-for-bit") {
    import spark.implicits._
    val flatCents = Similarity.trainIvfCentroidsWithTrace(spark, sfDir)._1
    val (sup, cells) =
      Similarity.trainIvfCentroidsHier(spark, sfDir, superOverride = Some(1))
    assert(sup.length == 1 && cells.length == 1)
    assert(cells(0).length == flatCents.length)
    for (i <- flatCents.indices)
      assert(java.util.Arrays.equals(cells(0)(i), flatCents(i)),
        s"hier(S=1) cell $i drifted from the flat centroid")
    val hier = Similarity.ivfAssignHierOf(spark, sfDir, sup, cells)
      .as[(Long, Long)].collect().toMap
    val flat = Similarity.ivfAssign(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(hier == flat, "hier(S=1) assignment diverged from the flat kernel")
  }

  test("two-level quantizer: forced-hier assignment matches an in-JVM replay " +
    "of supercluster-then-cell election") {
    import spark.implicits._
    val (sup, cells) = Similarity.trainIvfCentroidsHier(spark, sfDir)
    assert(sup.length == Similarity.superCountFor(Similarity.IvfCells))
    assert(cells.map(_.length).sum == Similarity.IvfCells)
    val offsets = cells.map(_.length).scanLeft(0)(_ + _)
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    def argmax(v: Array[Double], cs: Array[Array[Double]]): Int = {
      val nv = math.sqrt(dot(v, v))
      var best = 0; var bs = Double.NegativeInfinity
      for (j <- cs.indices) {
        val s = dot(v, cs(j)) / (nv * math.sqrt(dot(cs(j), cs(j))))
        if (s > bs) { bs = s; best = j }
      }
      best
    }
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val expected = vecs.map { case (id, v) =>
      val g = argmax(v, sup)
      id -> (offsets(g) + argmax(v, cells(g))).toLong
    }.toMap
    val got = Similarity.ivfAssignHierOf(spark, sfDir, sup, cells)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
    assert(got.size == vecs.length, "a vector went unassigned")
  }

  test("hier_cluster_balance: forced two-level census covers the corpus " +
    "exactly once inside the C-cell id space") {
    import spark.implicits._
    val census = Similarity.hierClusterBalance(spark, sfDir)
      .as[(Long, Long)].collect()
    val n = Tables.load(spark, sfDir, "embeddings").count()
    val c = Similarity.ivfCellCount(spark, sfDir)
    assert(census.map(_._2).sum == n, "census total != corpus size")
    assert(census.forall { case (cid, cnt) => cid >= 0 && cid < c && cnt > 0 })
    assert(census.map(_._1).distinct.length == census.length)
    // the census is exactly the per-cell counts of the hierState
    // assignment the declared query rides
    val (sup, cells) = Similarity.trainIvfCentroidsHier(spark, sfDir)
    val direct = Similarity.ivfAssignHierOf(spark, sfDir, sup, cells)
      .as[(Long, Long)].collect()
      .groupBy(_._2).map { case (cid, rows) => (cid, rows.length.toLong) }
    assert(census.toMap == direct, "census diverged from the assignment frame")
  }

  test("knn_graph_lsh_slice equals the full graph's probe rows") {
    import spark.implicits._
    val full = Similarity.knnGraphLsh(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < Similarity.NumProbes)
      .as[(Long, Long, Long, Double)].collect().toSet
    val slice = Similarity.knnGraphLshSlice(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(slice == full, "probe-side filtering changed the graph's probe rows")
    assert(slice.nonEmpty)
  }

  test("recall floors hold at sf1 (the ladder regime) — a cap/bits/sampling " +
    "change that drops them fails here, not in a census nobody rereads") {
    // round-12 verdict #2: the measured numbers (knn_graph_recall 1.00,
    // ann_recall ivf/ivfpq 1.00/1.00 at sf1) get pinned floors with
    // headroom for fixture regeneration noise
    assume(sf1Dir.isDefined, "sf1 testdata not generated on this machine")
    val sf1 = sf1Dir.get
    import spark.implicits._
    val kg = Similarity.knnGraphRecall(spark, sf1)
      .select("recall").as[Double].collect()
    val kgAvg = kg.sum / kg.length
    info(f"sf1 knn_graph_recall mean: $kgAvg%.3f over ${kg.length} probes")
    assert(kgAvg >= 0.95, s"knn_graph_recall floor broken at sf1: $kgAvg")
    val ann = Similarity.annRecall(spark, sf1)
      .groupBy("method").agg(org.apache.spark.sql.functions.avg("recall").as("r"))
      .as[(String, Double)].collect().toMap
    info(s"sf1 ann_recall means: $ann")
    assert(ann("ivf") >= 0.95, s"ann_recall ivf floor broken at sf1: ${ann("ivf")}")
    assert(ann("ivfpq") >= 0.95, s"ann_recall ivfpq floor broken at sf1: ${ann("ivfpq")}")
  }

  test("trainEvery ladder: identity through sf0.1, active at sf1, saturates at 1/16") {
    assert(Similarity.trainEvery(500) == 1)      // sf0.01: bit-exact with unsampled
    assert(Similarity.trainEvery(2000) == 1)     // sf0.1
    assert(Similarity.trainEvery(20000) == 4)    // sf1: training reads 1/4
    assert(Similarity.trainEvery(60000) == 14)   // sf3
    // once C = n/TargetCellSize binds, the stride SATURATES at
    // TargetCellSize / TrainPointsPerCell = 16: a constant 1/16 sample
    // keeps every cell at its 256-point training budget as n grows
    assert(Similarity.trainEvery(200000) == 16)  // sf10
    assert(Similarity.trainEvery(2000000) == 16) // sf100
    assert(Similarity.TargetCellSize / Similarity.TrainPointsPerCell == 16)
  }

  test("knnBitsFor ladder: identity through sf0.1, occupancy-holding beyond, capped") {
    assert(Similarity.knnBitsFor(200) == Similarity.LshBits)   // sf0.001
    assert(Similarity.knnBitsFor(2000) == Similarity.LshBits)  // sf0.1
    assert(Similarity.knnBitsFor(2049) == 7)
    assert(Similarity.knnBitsFor(20000) == 10)                 // sf1
    assert(Similarity.knnBitsFor(60000) == 11)                 // sf3
    assert(Similarity.knnBitsFor(Long.MaxValue) == Similarity.KnnMaxBits)
    // occupancy bound: at the chosen bits, n / 2^bits <= KnnTargetOcc
    for (n <- Seq(500L, 5000L, 50000L, 500000L, 5000000L)) {
      val b = Similarity.knnBitsFor(n)
      assert(b == Similarity.KnnMaxBits || n <= (Similarity.KnnTargetOcc.toLong << b))
    }
  }

  test("mmr_diversify: rank-1 is the relevance argmax; selection is less redundant than plain top-k") {
    import spark.implicits._
    val got = Similarity.mmrDiversify(spark, sfDir)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.length == Similarity.MmrK)
    assert(got.map(_._1).toSeq == (1L to Similarity.MmrK).toSeq)
    // rank 1 ignores diversity: must be the plain nearest neighbor
    val exact = Similarity.similarTopk(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("probe_id") === 0)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    assert(got.head._2 == exact.head._2)
    // diversity: the MMR picks' mean pairwise cosine is strictly below
    // the plain top-MmrK picks' (the corpus has near-dup families the
    // relevance-only ranking stacks together)
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    def cos(a: Long, b: Long): Double = {
      def dot(x: Array[Double], y: Array[Double]) = {
        var s = 0.0; var i = 0
        while (i < x.length) { s += x(i) * y(i); i += 1 }
        s
      }
      dot(vecs(a), vecs(b)) / (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b))))
    }
    def meanPairSim(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- i + 1 until ids.length) yield cos(ids(i), ids(j))
      ps.sum / ps.length
    }
    // plain top-MmrK by relevance alone (no diversity term), brute-forced
    val plainTop = vecs.keys.filter(_ != 0L).toSeq
      .map(id => (id, cos(0L, id)))
      .sortBy { case (id, r) => (-r, id) }
      .take(Similarity.MmrK).map(_._1)
    val mmrIds = got.map(_._2).toSeq
    assert(meanPairSim(mmrIds) < meanPairSim(plainTop),
      s"MMR no less redundant: ${meanPairSim(mmrIds)} vs ${meanPairSim(plainTop)}")
    // determinism: a second run is identical
    val again = Similarity.mmrDiversify(spark, sfDir)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(again.toSeq == got.toSeq)
  }

  test("embedding_pq_codes: full coverage, code range, and hand-recomputed errors") {
    import spark.implicits._
    val rows = Similarity.embeddingPqCodes(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    val n = Tables.load(spark, sfDir, "embeddings").count()
    assert(rows.length == n * Similarity.PqSubspaces)
    assert(rows.forall(r => r._3 >= 0 && r._3 < Similarity.PqK))
    // recompute a sample's codes + errors from the collected codebooks,
    // RESIDUAL form: the encoded subvector is (x − ivf_centroid(x))
    // sliced, exactly what pqSubvectors feeds the kernel
    val cents = Similarity.trainPqCodebooks(spark, sfDir)
    val qcents = cents.map(_.map(_.map(x => math.floor(x * Similarity.QuantScale).toLong)))
    val ivfCents = Similarity.trainIvfCentroids(spark, sfDir)
    val assign = Similarity.ivfAssign(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    val byKey = rows.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    for (id <- vecs.keys.take(25); m <- 0 until Similarity.PqSubspaces) {
      val cIvf = ivfCents(assign(id).toInt)
      val res = vecs(id).indices.map(d => vecs(id)(d) - cIvf(d)).toArray
      val s = java.util.Arrays.copyOfRange(
        res, m * Similarity.PqSubDim, (m + 1) * Similarity.PqSubDim)
      def d2(c: Array[Double]): Double = {
        def dot(a: Array[Double], b: Array[Double]) = {
          var acc = 0.0; var i = 0
          while (i < a.length) { acc += a(i) * b(i); i += 1 }
          acc
        }
        dot(s, s) - 2.0 * dot(s, c) + dot(c, c)
      }
      val best = cents(m).indices.minBy(j => (d2(cents(m)(j)), j))
      var e = 0L
      for (d <- 0 until Similarity.PqSubDim) {
        val dd = math.floor(s(d) * Similarity.QuantScale).toLong - qcents(m)(best)(d)
        e += dd * dd
      }
      assert(byKey((id, m.toLong)) == (best.toLong, e), s"mismatch at ($id, $m)")
    }
  }

  test("ann_recall: full probe×method census, truthful fractions, multiprobe never below lsh") {
    import spark.implicits._
    val rows = Similarity.annRecall(spark, sfDir)
      .as[(Long, String, Long, Double)].collect()
    // every probe appears once per method — no silent probe loss
    assert(rows.length == 4 * Similarity.NumProbes)
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
    rows.foreach { case (p, m, found, recall) =>
      assert(found >= 0 && found <= Similarity.K, s"probe $p $m found=$found")
      assert(recall == math.round(found.toDouble / Similarity.K * 1e6) / 1e6,
        s"probe $p $m recall=$recall found=$found")
    }
    // candidate-set monotonicity: multiprobe searches a superset of
    // lsh's bucket, and an exact-top-K member beaten by < K candidates
    // anywhere survives any superset's top-K cut
    val byMethod = rows.groupBy(_._2).map { case (m, rs) =>
      m -> rs.map(r => r._1 -> r._3).toMap
    }
    byMethod("lsh").foreach { case (p, f) =>
      assert(byMethod("multiprobe")(p) >= f,
        s"probe $p: multiprobe found ${byMethod("multiprobe")(p)} < lsh $f")
    }
    // the exact set against itself is perfect recall — the harness
    // would catch a broken join, but say it explicitly
    val exact = Similarity.similarTopk(spark, sfDir)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(exact.size == Similarity.K * Similarity.NumProbes)
  }

  test("embedding_drift_psi: full cell grid, counts tie out, PSI >= 0 and equals its terms") {
    val rows = Similarity.embeddingDriftPsi(spark, sfDir).collect()
    val nCells = Similarity.ivfCellCount(spark, sfDir)
    assert(rows.length == nCells, s"expected $nCells cells, got ${rows.length}")
    val vecs = Tables.load(spark, sfDir, "embeddings")
    assert(rows.map(_.getLong(1)).sum ==
      vecs.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0).count())
    assert(rows.map(_.getLong(2)).sum ==
      vecs.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 1).count())
    val psi = rows.head.getDouble(6)
    assert(rows.forall(_.getDouble(6) == psi), "PSI differs across rows")
    assert(psi >= 0.0)
    assert(rows.forall(_.getDouble(5) >= 0.0), "a PSI term went negative")
    assert(math.abs(rows.map(_.getDouble(5)).sum - psi) < 1e-4,
      s"terms ${rows.map(_.getDouble(5)).sum} vs psi $psi")
  }
}
