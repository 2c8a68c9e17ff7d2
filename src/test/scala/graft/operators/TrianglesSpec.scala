package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Triangle counting vs an exhaustive triple-loop model on random
  * graphs, plus the structural cases where wedge logic typically breaks
  * (hubs, cliques, chains).
  */
class TrianglesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def model(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupMap(_._1)(_._2)
    val nodes = adj.keys.toSeq.sorted
    val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      u <- nodes
      v <- adj(u).toSeq.sorted if v > u
      w <- adj(v).toSeq.sorted if w > v && adj(u).contains(w)
    } { counts(u) += 1; counts(v) += 1; counts(w) += 1 }
    counts.toMap
  }

  private def run(edges: Set[(Long, Long)]): Map[Long, Long] =
    Triangles.vertexTriangleCounts(
        edges.toSeq.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap

  test("random graphs match the exhaustive model") {
    val rnd = new scala.util.Random(42)
    (0 until 8).foreach { trial =>
      val n = 12 + rnd.nextInt(20)
      val edges = (for {
        a <- 0L until n
        b <- (a + 1) until n if rnd.nextDouble() < 0.25
      } yield (a, b)).toSet
      if (edges.nonEmpty)
        assert(run(edges) == model(edges), s"trial $trial, n=$n")
    }
  }

  private def supportModel(edges: Set[(Long, Long)]): Map[(Long, Long), Long] = {
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupMap(_._1)(_._2)
    edges.map { case (a, b) =>
      (a, b) -> adj(a).count(w => w != b && adj(b).contains(w)).toLong
    }.filter(_._2 > 0).toMap
  }

  test("edgeSupport matches the common-neighbor model on random graphs") {
    val rnd = new scala.util.Random(7)
    (0 until 6).foreach { trial =>
      val n = 10 + rnd.nextInt(15)
      val edges = (for {
        a <- 0L until n
        b <- (a + 1) until n if rnd.nextDouble() < 0.3
      } yield (a, b)).toSet
      if (edges.nonEmpty) {
        val got = Triangles.edgeSupport(
            edges.toSeq.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
          .as[(Long, Long, Long)].collect()
          .map { case (a, b, s) => (a, b) -> s }.toMap
        assert(got == supportModel(edges), s"trial $trial, n=$n")
      }
    }
  }

  test("truss cut severs the bridge between two triangles; cliques survive intact") {
    // two triangles {0,1,2} and {10,11,12} chained by bridge 2-10
    val g = Set((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L), (2L, 10L))
    val truss = Triangles.trussEdges(g.toSeq.toDF("doc_a", "doc_b"),
        "doc_a", "doc_b", minSupport = 1L)
      .as[(Long, Long)].collect().toSet
    assert(truss == g - ((2L, 10L)), "bridge edge must be cut, triangle edges kept")
    // and the refined components split where plain components fuse
    val comp = Components.connectedComponents(
        truss.toSeq.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(comp.filterKeys(Set(0L, 1L, 2L)).values.toSet.size == 1)
    assert(comp.filterKeys(Set(10L, 11L, 12L)).values.toSet.size == 1)
    assert(comp(0L) != comp(10L), "truss components must not chain through the bridge")
  }

  /** Random graph plus PLANTED true twins (each cloned vertex adjacent
    * to its original and all its original's neighbors) — the structure
    * dup graphs actually have and the collapse exists for.
    */
  private def randomWithTwins(rnd: scala.util.Random): Set[(Long, Long)] = {
    val n = 8 + rnd.nextInt(10)
    var edges = (for {
      a <- 0L until n
      b <- (a + 1) until n if rnd.nextDouble() < 0.3
    } yield (a, b)).toSet
    var next = n.toLong
    (0 until 1 + rnd.nextInt(4)).foreach { _ =>
      val v = rnd.nextInt(n).toLong
      val nb = edges.collect { case (a, b) if a == v => b; case (a, b) if b == v => a }
      val clone = next; next += 1
      edges ++= (nb + v).map(w => (math.min(w, clone), math.max(w, clone)))
    }
    edges
  }

  test("collapsed counts == enumerating counts on random graphs with planted twin cliques") {
    val rnd = new scala.util.Random(11)
    (0 until 6).foreach { trial =>
      val edges = randomWithTwins(rnd)
      val df = edges.toSeq.toDF("doc_a", "doc_b")
      val enum0 = Triangles.vertexTriangleCounts(df, "doc_a", "doc_b")
        .as[(Long, Long)].collect().toMap
      val coll = Triangles.vertexTriangleCountsCollapsed(df, "doc_a", "doc_b")
        .as[(Long, Long)].collect().toMap
      assert(coll == enum0, s"trial $trial: collapsed diverges from enumeration")
    }
  }

  test("collapsed edge support == enumerating support on random graphs with twins") {
    val rnd = new scala.util.Random(13)
    (0 until 6).foreach { trial =>
      val edges = randomWithTwins(rnd)
      val df = edges.toSeq.toDF("doc_a", "doc_b")
      val enum0 = Triangles.edgeSupport(df, "doc_a", "doc_b")
        .as[(Long, Long, Long)].collect().map { case (a, b, s) => (a, b) -> s }.toMap
      val coll = Triangles.edgeSupportCollapsed(df, "doc_a", "doc_b")
        .as[(Long, Long, Long)].collect().map { case (a, b, s) => (a, b) -> s }.toMap
      assert(coll == enum0, s"trial $trial: collapsed support diverges")
    }
  }

  test("quotient-level truss canonicals == components over the expanded truss graph") {
    val rnd = new scala.util.Random(17)
    (0 until 6).foreach { trial =>
      val edges = randomWithTwins(rnd)
      val df = edges.toSeq.toDF("doc_a", "doc_b")
      val expanded = Triangles.trussEdges(df, "doc_a", "doc_b", minSupport = 1L)
      val want =
        if (expanded.isEmpty) Map.empty[Long, Long]
        else Components.connectedComponents(expanded)
          .as[(Long, Long)].collect().toMap
      val got = Triangles.trussCanonicalsCollapsed(df, "doc_a", "doc_b", minSupport = 1L)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial: quotient canonicals diverge")
    }
  }

  test("driver-local quotient products (phase frames supplied) == distributed products") {
    // The r21 local path engages ONLY when vclsOpt+qOpt are both given
    // (the writeProducts/buildPeeled shape); pin it against the
    // opt-less distributed derivation on random twin graphs.
    val rnd = new scala.util.Random(31)
    (0 until 6).foreach { trial =>
      val edges = randomWithTwins(rnd)
      val df = edges.toSeq.toDF("doc_a", "doc_b")
      val vcls = Triangles.twinClasses(df, "doc_a", "doc_b").localCheckpoint()
      val q = Triangles.quotientEdges(
        df.select(col("doc_a").as("u"), col("doc_b").as("v")), vcls)
        .localCheckpoint()
      def cmp(name: String, local: org.apache.spark.sql.DataFrame,
          dist: org.apache.spark.sql.DataFrame): Unit = {
        val l = local.collect().map(_.toSeq.mkString("|")).sorted.toSeq
        val d = dist.collect().map(_.toSeq.mkString("|")).sorted.toSeq
        assert(l == d, s"trial $trial: $name local path diverges")
      }
      cmp("counts",
        Triangles.vertexTriangleCountsCollapsed(
          df, "doc_a", "doc_b", Some(vcls), Some(q)),
        Triangles.vertexTriangleCountsCollapsed(df, "doc_a", "doc_b"))
      cmp("truss canonicals",
        Triangles.trussCanonicalsCollapsed(
          df, "doc_a", "doc_b", minSupport = 1L, Some(vcls), Some(q)),
        Triangles.trussCanonicalsCollapsed(df, "doc_a", "doc_b", minSupport = 1L))
      cmp("stats",
        Triangles.twinQuotientStats(df, "doc_a", "doc_b", Some(vcls), Some(q)),
        Triangles.twinQuotientStats(df, "doc_a", "doc_b"))
      graft.operators.Checkpoints.release(q)
      graft.operators.Checkpoints.release(vcls)
    }
  }

  test("driver-local truss canonicals == distributed at edge-cutting thresholds (minSupport 2-4)") {
    // The r21 advisor's gap: the driver-vs-distributed comparison above
    // runs trussCanonicalsCollapsed only at minSupport = 1, where the
    // survive conditions are weakest; the local crossSurvive /
    // intraSurvive / common-neighbor arithmetic was untested at
    // thresholds that actually cut edges.
    val rnd = new scala.util.Random(37)
    (0 until 6).foreach { trial =>
      val edges = randomWithTwins(rnd)
      val df = edges.toSeq.toDF("doc_a", "doc_b")
      val vcls = Triangles.twinClasses(df, "doc_a", "doc_b").localCheckpoint()
      val q = Triangles.quotientEdges(
        df.select(col("doc_a").as("u"), col("doc_b").as("v")), vcls)
        .localCheckpoint()
      val minSupport = 2L + (trial % 3) // 2, 3, 4 across trials
      val l = Triangles.trussCanonicalsCollapsed(
          df, "doc_a", "doc_b", minSupport, Some(vcls), Some(q))
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val d = Triangles.trussCanonicalsCollapsed(df, "doc_a", "doc_b", minSupport)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(l == d, s"trial $trial minSupport=$minSupport: local path diverges")
      graft.operators.Checkpoints.release(q)
      graft.operators.Checkpoints.release(vcls)
    }
  }

  test("disjoint-clique quotients (many classes, zero quotient edges) force the distributed path") {
    // r21 verdict item 1: the driver gate bounded quotient EDGES only,
    // and a corpus of disjoint duplicate cliques — the canonical dedup
    // shape — has ~one class per clique and ZERO quotient edges, so the
    // edge gate passed and classes.collect() was unbounded. Force the
    // limit low, hand in a graph with more classes than the limit, and
    // pin that the fall-through distributed path still answers (and
    // answers identically to the opt-less derivation).
    val cliques = (0 until 8).flatMap { c =>
      val base = c * 10L
      for (i <- 0 until 3; j <- (i + 1) until 3)
        yield (base + i, base + j)
    }.toSet // 8 disjoint triangles: 8 twin classes, 0 quotient edges
    val df = cliques.toSeq.toDF("doc_a", "doc_b")
    val vcls = Triangles.twinClasses(df, "doc_a", "doc_b").localCheckpoint()
    val q = Triangles.quotientEdges(
      df.select(col("doc_a").as("u"), col("doc_b").as("v")), vcls)
      .localCheckpoint()
    assert(q.count() == 0L, "fixture must have zero quotient edges")
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val limit = 4L // < 8 classes; >= 0 quotient edges
    val gatedCounts = rows(Triangles.vertexTriangleCountsCollapsed(
      df, "doc_a", "doc_b", Some(vcls), Some(q), driverLimit = limit))
    val gatedTruss = rows(Triangles.trussCanonicalsCollapsed(
      df, "doc_a", "doc_b", minSupport = 1L, Some(vcls), Some(q),
      driverLimit = limit))
    val gatedStats = rows(Triangles.twinQuotientStats(
      df, "doc_a", "doc_b", Some(vcls), Some(q), driverLimit = limit))
    assert(gatedCounts == rows(
      Triangles.vertexTriangleCountsCollapsed(df, "doc_a", "doc_b")))
    assert(gatedTruss == rows(
      Triangles.trussCanonicalsCollapsed(df, "doc_a", "doc_b", minSupport = 1L)))
    assert(gatedStats == rows(
      Triangles.twinQuotientStats(df, "doc_a", "doc_b")))
    // and 0 disables the driver path even at zero quotient edges
    assert(rows(Triangles.twinQuotientStats(
      df, "doc_a", "doc_b", Some(vcls), Some(q), driverLimit = 0L)) == gatedStats)
    graft.operators.Checkpoints.release(q)
    graft.operators.Checkpoints.release(vcls)
  }

  test("fold absorbs opposite-orientation replayed duplicates (least/greatest canonicalization)") {
    // r21 advisor: distinct() alone only absorbs byte-identical replays;
    // a (b, a) delivery of a stored (a, b) edge survived it and the XOR
    // fingerprint silently cancelled that neighbor. The canonicalizing
    // projection must absorb the flip.
    val stored = Set((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L))
    val sdf = stored.toSeq.toDF("doc_a", "doc_b")
    val storedFp = Triangles.adjacencyFingerprints(sdf, "doc_a", "doc_b")
    // delta: one genuinely new edge + one orientation-FLIPPED replay
    val ddf = Seq((3L, 4L), (2L, 1L)).toDF("doc_a", "doc_b")
    val folded = Triangles.refreshFingerprints(
        storedFp, sdf, ddf, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.get(1))).toMap
    val want = Triangles.adjacencyFingerprints(
        (stored + ((3L, 4L))).toSeq.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.get(1))).toMap
    assert(folded == want, "orientation-flipped replay corrupted fingerprints")
  }

  test("fingerprint fold == from-scratch fingerprints of the merged graph") {
    val rnd = new scala.util.Random(19)
    (0 until 6).foreach { trial =>
      val all = randomWithTwins(rnd).toSeq
      // split: ~80% stored, rest arrives as the delta batch
      val (stored, delta) = all.partition(_ => rnd.nextDouble() < 0.8)
      if (stored.nonEmpty && delta.nonEmpty) {
        val sdf = stored.toDF("doc_a", "doc_b")
        val ddf = delta.toDF("doc_a", "doc_b")
        val folded = Triangles.refreshFingerprints(
            Triangles.adjacencyFingerprints(sdf, "doc_a", "doc_b"),
            sdf, ddf, "doc_a", "doc_b")
          .collect().map(r => (r.getLong(0), r.get(1))).toMap
        val full = Triangles.adjacencyFingerprints(
            all.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
          .collect().map(r => (r.getLong(0), r.get(1))).toMap
        assert(folded == full, s"trial $trial: folded fingerprints diverge")
        // deduplicated/canonical/disjoint inputs (this fixture is all
        // three by construction): the exchange-free dedupTouched=false
        // path must produce the identical fold (the r22 phase callers).
        val foldedNoDedup = Triangles.refreshFingerprints(
            Triangles.adjacencyFingerprints(sdf, "doc_a", "doc_b"),
            sdf, ddf, "doc_a", "doc_b", dedupTouched = false)
          .collect().map(r => (r.getLong(0), r.get(1))).toMap
        assert(foldedNoDedup == full,
          s"trial $trial: dedupTouched=false fold diverges")
      }
    }
  }

  /** Scala model of the peel: iterate the support cut up to `iters`
    * times with the same early exit (cut only filters, so set equality
    * = cardinality equality) — the prefix semantics q176's oracle
    * unrolls.
    */
  private def peelModel(
      edges: Set[(Long, Long)], minSupport: Long, iters: Int): Set[(Long, Long)] = {
    var cur = edges
    var i = 0
    var done = false
    while (i < iters && !done) {
      val sup = supportModel(cur)
      val next = cur.filter(e => sup.getOrElse(e, 0L) >= minSupport)
      if (next == cur) done = true else cur = next
      i += 1
    }
    cur
  }

  test("trussPeelCollapsed: the cascade graph matches the model at EVERY maxIters prefix") {
    // Triangle strip 0-1-2, 1-2-3, ...: interior (i, i+1) edges sit in
    // two triangles (support 2), skip (i, i+2) edges in one (support 1).
    // The 4-truss cut (minSupport = 2) CASCADES: round 1 keeps only the
    // interior edges, which kills every triangle, so round 2 cuts
    // everything — maxIters = 1 returns a genuine unconverged prefix
    // (interior edges), not the fixed point (empty).
    val strip = (0L until 10L).flatMap(i => Seq((i, i + 1), (i, i + 2)))
      .filter(_._2 < 10L).toSet
    (1 to 3).foreach { k =>
      val got = Triangles.trussPeelCollapsed(
        strip.toSeq.toDF("doc_a", "doc_b"), "doc_a", "doc_b",
        minSupport = 2L, maxIters = k)
      val gotSet = got.as[(Long, Long)].collect().toSet
      Checkpoints.release(got)
      assert(gotSet == peelModel(strip, 2L, k), s"maxIters=$k prefix diverges")
    }
    assert(peelModel(strip, 2L, 2).isEmpty, "strip must peel to empty by round 2")
    assert(peelModel(strip, 2L, 1).nonEmpty, "round 1 must NOT already be the fixed point")
  }

  test("trussPeelCollapsed == iterated support cut on random graphs with twins") {
    val rnd = new scala.util.Random(23)
    (0 until 4).foreach { trial =>
      val edges = randomWithTwins(rnd)
      Seq(1L, 2L).foreach { ms =>
        val got = Triangles.trussPeelCollapsed(
          edges.toSeq.toDF("doc_a", "doc_b"), "doc_a", "doc_b",
          minSupport = ms, maxIters = 6)
        val gotSet = got.as[(Long, Long)].collect().toSet
        Checkpoints.release(got)
        assert(gotSet == peelModel(edges, ms, 6),
          s"trial $trial minSupport=$ms: peel diverges from iterated cut")
      }
    }
  }

  test("trussPeelCollapsedWithDecomp: converged decomp == twinClasses(fixed); None when unconverged") {
    // Converged case (minSupport = 2, so the loop — not the
    // single-cut shortcut — runs): K5 survives the 4-truss cut intact
    // while the attached strip peels away; once only the clique
    // remains, the next cut drops nothing and the loop returns that
    // round's classes, which must equal a fresh twinClasses of the
    // fixed graph row for row (they feed collapsed products in
    // buildPeeled).
    val k5 = (0L until 5L).flatMap(i => ((i + 1) until 5L).map(j => (i, j)))
    val strip = (10L until 18L).flatMap(i => Seq((i, i + 1), (i, i + 2)))
      .filter(_._2 < 18L) ++ Seq((4L, 10L)) // bridge clique -> strip
    val edges = (k5 ++ strip).toSet
    val (fixed, vclsOpt) = Triangles.trussPeelCollapsedWithDecomp(
      edges.toSeq.toDF("doc_a", "doc_b"), "doc_a", "doc_b",
      minSupport = 2L, maxIters = 8)
    assert(vclsOpt.nonEmpty, "generous maxIters must converge")
    val gotCls = vclsOpt.get.collect().map(_.toSeq).toSet
    val freshCls = Triangles.twinClasses(fixed, "doc_a", "doc_b")
      .collect().map(_.toSeq).toSet
    assert(gotCls == freshCls)
    Checkpoints.release(fixed)
    vclsOpt.foreach(Checkpoints.release)
    // Unconverged case: the cascading strip at maxIters = 1 exits by
    // exhaustion, so no decomposition may be claimed for the output.
    val strip2 = (0L until 10L).flatMap(i => Seq((i, i + 1), (i, i + 2)))
      .filter(_._2 < 10L).toSet
    val (pre, none) = Triangles.trussPeelCollapsedWithDecomp(
      strip2.toSeq.toDF("doc_a", "doc_b"), "doc_a", "doc_b",
      minSupport = 2L, maxIters = 1)
    assert(none.isEmpty, "exhausted loop must not claim a decomposition")
    Checkpoints.release(pre)
  }

  test("trussPeelCollapsedWithDecomp: seeding round 0 with the input's decomposition changes nothing") {
    val rnd = new scala.util.Random(37)
    val edges = randomWithTwins(rnd)
    val df = edges.toSeq.toDF("doc_a", "doc_b")
    Seq(1L, 2L).foreach { ms =>
      val (plainE, plainV) = Triangles.trussPeelCollapsedWithDecomp(
        df, "doc_a", "doc_b", minSupport = ms, maxIters = 6)
      val seed = Triangles.twinClasses(df, "doc_a", "doc_b").localCheckpoint()
      val (seededE, seededV) = Triangles.trussPeelCollapsedWithDecomp(
        df, "doc_a", "doc_b", minSupport = ms, maxIters = 6,
        firstVcls = Some(seed))
      assert(plainE.collect().map(_.toSeq).toSet ==
        seededE.collect().map(_.toSeq).toSet, s"minSupport=$ms edges diverge")
      assert(plainV.map(_.collect().map(_.toSeq).toSet) ==
        seededV.map(_.collect().map(_.toSeq).toSet), s"minSupport=$ms decomp diverges")
      Seq(Some(plainE), Some(seededE), plainV, seededV).flatten
        .foreach(Checkpoints.release)
    }
  }

  test("minSupport = 1 peel converges after ONE cut (bridges are in no triangle)") {
    // A support-0 edge is in no triangle, so removing it cannot change
    // any surviving edge's support — the q170 single cut IS the 3-truss
    // fixed point. Pin that so the peel's early exit is exercised.
    val rnd = new scala.util.Random(29)
    val edges = randomWithTwins(rnd)
    assert(peelModel(edges, 1L, 1) == peelModel(edges, 1L, 8))
  }

  test("clique K5: every vertex in C(4,2)=6 triangles; chain has none; hub star has none") {
    val k5 = (for { a <- 0L until 5; b <- (a + 1) until 5 } yield (a, b)).toSet
    assert(run(k5) == (0L until 5L).map(_ -> 6L).toMap)
    val chain = (0L until 6L).sliding(2).map(s => (s(0), s(1))).toSet
    assert(run(chain).isEmpty)
    // the hub shape the degree orientation exists for: star has no
    // triangles and must produce ZERO wedge explosion at the hub
    val star = (1L to 40L).map(i => (0L, i)).toSet
    assert(run(star).isEmpty)
    // star plus one rim edge: exactly one triangle
    assert(run(star + ((1L, 2L))) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }
}
