package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-density analytics for the near-dup graph — triangle counts,
  * clustering coefficients, truss cuts, and the twin decomposition they
  * all stand on (LSH banding emits near-cliques; triangle participation
  * separates tight paraphrase clusters from chains of borderline pairs
  * that components alone can't tell apart).
  *
  * TWO formulations live here, and the choice is the file's main
  * lesson. The ENUMERATING form is compact-forward (Latapy 2008; Suri &
  * Vassilvitskii WWW'11): edges oriented low->high (degree, id), wedges
  * only at each pair's low endpoint, one equi-join closes — O(m^{3/2})
  * worst case, the textbook distributed answer. It is still
  * Omega(#triangles), and dup graphs break exactly that bound: the
  * sf0.1 fixture packs 1.14 BILLION triangles into 2M edges, and the
  * enumerating form timed out where the fixture lives. The PRODUCTION
  * form is TRUE-TWIN COLLAPSE (`*Collapsed`): vertices with identical
  * closed neighborhoods are structurally interchangeable (N[u] = N[v]
  * forces u ~ v, so twin classes are cliques sharing every outside
  * adjacency), the quotient graph is tiny (4533 -> 1097 classes, 2M ->
  * ~6k edges on that fixture), and counts/supports/components expand
  * combinatorially from class sizes — one linear adjacency shuffle
  * total. The enumerating form survives as the quotient-stage engine
  * and the spec cross-check (collapsed == enumerated on random graphs
  * with planted twins), and every product is DuckDB-oracle-checked
  * against brute enumeration.
  *
  * The decomposition itself is foldable ([[refreshFingerprints]]): a
  * fingerprint depends only on N[v], so arrival batches re-hash only
  * touched vertices — with a replay-TOLERANT streaming face
  * ([[refreshFingerprintsBatch]]) because adjacency is a set.
  */
object Triangles {

  /** All closed triangles of an undirected edge list as (a, lo, hi)
    * rows — `a` the minimum-(deg, id)-rank vertex where the wedge
    * formed, (lo, hi) its other two corners in rank order. Each
    * triangle appears EXACTLY once; shared by the vertex-count and
    * edge-support faces.
    */
  private def closedTriangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    val deg = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // Orient each edge toward the higher (deg, id) endpoint; keep the
    // destination's rank key so the wedge stage can order its two ends
    // without re-joining degrees.
    val tagged = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
    val oriented = tagged.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("src"), col("v").as("dst"), col("dv").as("ddst")))
        .otherwise(
          struct(col("v").as("src"), col("u").as("dst"), col("du").as("ddst")))
        .as("o"))
      .select(col("o.src"), col("o.dst"), col("o.ddst"))
    // Wedges at the common low vertex, ends ordered by (deg, id) so each
    // unordered wedge appears once; the closing edge is then exactly the
    // oriented (lo, hi) row if the triangle exists.
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") &&
          (col("x.ddst") < col("y.ddst") ||
            (col("x.ddst") === col("y.ddst") && col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("a"), col("x.dst").as("lo"), col("y.dst").as("hi"))
    wedges.join(
      oriented.select(col("src").as("lo"), col("dst").as("hi")), Seq("lo", "hi"))
      .select(col("a"), col("lo"), col("hi"))
  }

  /** Per-vertex triangle participation counts over an undirected,
    * deduplicated edge list (`aCol` < `bCol` convention, one row per
    * edge). Output: (doc_id, n_triangles), vertices in >= 1 triangle.
    */
  def vertexTriangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val closed = closedTriangles(edges, aCol, bCol)
    closed.select(col("a").as("doc_id"))
      .unionAll(closed.select(col("lo").as("doc_id")))
      .unionAll(closed.select(col("hi").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-EDGE triangle support in canonical (min-id, max-id) form: each
    * closed triangle credits its three edges once. Support is the
    * k-truss signal — an edge in >= k-2 triangles survives the k-truss
    * — and the basis for [[trussEdges]].
    */
  def edgeSupport(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val canon = (u: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =>
      struct(least(u, v).as("ea"), greatest(u, v).as("eb"))
    closedTriangles(edges, aCol, bCol)
      .select(explode(array(
        canon(col("a"), col("lo")),
        canon(col("a"), col("hi")),
        canon(col("lo"), col("hi")))).as("e"))
      .groupBy(col("e.ea").as(aCol), col("e.eb").as(bCol))
      .agg(count(lit(1)).as("support"))
  }

  /** The edges surviving a k-truss cut: support >= minSupport (k-truss
    * proper iterates this to a fixed point; ONE cut — support computed
    * on the full graph — is the cheap first iteration, and is already
    * the load-bearing dedup refinement: it severs zero-triangle bridge
    * edges between otherwise-dense paraphrase cliques, the exact
    * chain-vs-clique failure mode components alone cannot see. The
    * single-cut semantics is what the oracle floods; iterate by feeding
    * the output back when full truss peeling is wanted.)
    */
  def trussEdges(edges: DataFrame, aCol: String, bCol: String, minSupport: Long): DataFrame =
    edges.select(col(aCol), col(bCol))
      .join(edgeSupport(edges, aCol, bCol), Seq(aCol, bCol))
      .filter(col("support") >= minSupport)
      .select(col(aCol), col(bCol))

  // ---------------------------------------------------------------------
  // Twin-collapse (modular) formulation — the shape that survives dup
  // graphs. Measured on the sf0.1 fixture: the LSH pair graph has 2.09M
  // edges and 1.14 BILLION triangles (giant near-cliques of exact+near
  // dups), so ANY enumerating algorithm — including the oriented
  // compact-forward above — is Omega(#triangles) and dies exactly where
  // dedup graphs live. TRUE TWINS fix it: vertices with identical CLOSED
  // neighborhoods N[v] are structurally interchangeable; N[u] = N[v]
  // implies u ~ v (u is in N[u]), so a twin class is a clique whose
  // members share every outside adjacency — the quotient graph is
  // class-complete and triangle counts expand combinatorially. The same
  // fixture collapses 4533 vertices -> 1097 classes (largest 1027) and
  // 2.09M edges -> ~6k quotient edges: the billion-triangle answer is
  // computed from a 6k-edge enumeration plus class-size arithmetic. Cost
  // is ONE adjacency-list shuffle (linear in |E|) + quotient work —
  // corpus-scale-safe because exact-dup/boilerplate cliques are
  // precisely what twin classes collapse.
  // ---------------------------------------------------------------------

  /** Closed-neighborhood fingerprints: (doc_id, nb) with `nb` a
    * 128-bit-equivalent set hash of N[v] (self included). THE
    * twin-identity key — equal fingerprints = structurally
    * interchangeable vertices — and the stored state of the incremental
    * fold ([[refreshFingerprints]]): a vertex's fingerprint changes ONLY
    * when an incident edge arrives, so untouched rows carry over
    * verbatim.
    *
    * FORMULATION (r21 optimization — guide §4, codegen over object
    * aggregation): `nb = struct(|N[v]|, xor of xxhash64(n), xor of
    * xxhash64(n, SEED2))` over the open neighborhood, with the self term
    * folded in after the aggregate. XOR of per-member hashes is
    * order-insensitive, so equal neighborhood SETS give equal structs;
    * two independent 64-bit hashes plus the cardinality make a false
    * class-merge a < 2^-100 event at any plausible |V|. Versus the
    * earlier md5-of-sorted-member-CSV: the aggregation is a codegen'd
    * fixed-width HashAggregate (three longs of state) instead of an
    * ObjectHashAggregate building per-vertex sets, the shuffle carries
    * |V|-sized partials instead of full adjacency sets, and the
    * per-member cost is one hash instead of long->string + sort +
    * concat + md5. The pre-agg stream is 2|E| rows (self rows gone —
    * folded in post-agg), half the old 4|E|.
    *
    * CONTRACT (was already documented on [[twinClasses]]): `edges` is a
    * DEDUPLICATED undirected edge list, one canonical (aCol < bCol) row
    * per edge. XOR cancels duplicate members pairwise, so a duplicated
    * edge now CHANGES the fingerprint instead of being absorbed — the
    * duplicate-tolerant faces ([[refreshFingerprintsBatch]], whose edge
    * table legitimately accumulates replayed rows) dedupe before
    * calling in.
    */
  private[graft] val FpSeed2 = 0x9e3779b97f4a7c15L

  def adjacencyFingerprints(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    val und = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    und.groupBy(col("u").as("doc_id"))
      .agg(count(lit(1)).as("_deg"),
        bit_xor(xxhash64(col("v"))).as("_x1"),
        bit_xor(xxhash64(col("v"), lit(FpSeed2))).as("_x2"))
      .select(col("doc_id"), struct(
        (col("_deg") + lit(1L)).as("n"),
        expr("_x1 ^ xxhash64(doc_id)").as("h1"),
        expr(s"_x2 ^ xxhash64(doc_id, ${FpSeed2}L)").as("h2")).as("nb"))
  }

  /** Regroup fingerprints into classes: (doc_id, cls, s), label = min
    * member id. Node-sized work however large the edge set.
    */
  def classesFromFingerprints(fp: DataFrame): DataFrame = {
    val classes = fp.groupBy("nb")
      .agg(min(col("doc_id")).as("cls"), count(lit(1)).as("s"))
    fp.join(classes, Seq("nb")).select(col("doc_id"), col("cls"), col("s"))
  }

  /** The incremental-fold face of the twin decomposition: fold an
    * arrival batch's edges into STORED fingerprints without re-hashing
    * the untouched graph. A fingerprint depends only on N[v], so the
    * vertices whose rows change are exactly the endpoints of delta
    * edges; their new fingerprints need their FULL merged adjacency —
    * one pass over the stored edge stream filtered to the (delta-sized,
    * broadcast) touched set plus the delta edges — while every other
    * row carries over verbatim. Work: delta-proportional shuffle +
    * one pruned scan of stored edges; the re-grouping into classes
    * ([[classesFromFingerprints]]) is node-sized. Equals
    * [[adjacencyFingerprints]] of the merged graph row for row
    * (spec-pinned, and q173's oracle floods the merged graph from
    * scratch).
    *
    * REGIME (the q152/q154 lesson, measured here too): cost is
    * proportional to the TOUCHED ADJACENCY VOLUME — sum of |N[v]| over
    * delta endpoints — not to the arrival count. On near-clique dup
    * graphs one arrival into a k-clique touches all k members, so a
    * batch that lands in every large cluster re-hashes most of the
    * graph and the fold ties or loses to a rebuild (the sf0.1 fixture's
    * 2% slice does exactly that: fold 5.2 s vs rebuild 1.1 s — both
    * cheap absolutely, but the ratio inverts). The fold wins when
    * arrivals hit a bounded set of clusters — the production ingest
    * shape, where a batch is minutes of crawl against a corpus of
    * everything and most classes sleep untouched.
    */
  /** @param dedupTouched replay tolerance (default). The canonicalize +
    *        distinct() below costs one exchange on the touched stream
    *        per fold; a caller whose stored and delta streams are BY
    *        CONSTRUCTION deduplicated, canonical (aCol < bCol) and
    *        mutually disjoint — the mined-pair-table phase callers, the
    *        r21 fold-line regression (verdict item 2) — passes false
    *        and the per-fold path stays exchange-free on that stream.
    *        The duplicate-tolerant streaming face
    *        ([[refreshFingerprintsBatch]], whose edge table accumulates
    *        replayed rows) keeps the default.
    */
  def refreshFingerprints(
      storedFp: DataFrame,
      storedEdges: DataFrame,
      deltaEdges: DataFrame,
      aCol: String, bCol: String,
      dedupTouched: Boolean = true): DataFrame = {
    val touched = deltaEdges.select(col(aCol).as("id"))
      .unionAll(deltaEdges.select(col(bCol).as("id"))).distinct()
    // The two endpoint-side semi-joins each rescan the source edge
    // streams; a checkpoint here would pin blocks with no principled
    // release point inside a lazy operator (the round-10 leak class) —
    // for stored edges in a bucketed table the rescan is one extra
    // pruned columnar read, the cheaper trade.
    val merged = storedEdges.select(col(aCol), col(bCol))
      .unionAll(deltaEdges.select(col(aCol), col(bCol)))
    // ONE pass over the merged stream: two broadcast left-outer hash
    // probes (is aCol touched? is bCol touched?) and an OR filter. The
    // earlier overlapping-two-semi-join form scanned the stream twice
    // and needed a touched-volume distinct() shuffle to undo the
    // overlap — both costs the fold's fixed floor can't afford when the
    // stored graph is small relative to its rehash.
    val tFlagA = broadcast(
      touched.withColumnRenamed("id", aCol).withColumn("_ta", lit(1)))
    val tFlagB = broadcast(
      touched.withColumnRenamed("id", bCol).withColumn("_tb", lit(1)))
    // The canonicalize + distinct() restores the duplicate tolerance the
    // md5/collect_set formulation had implicitly (set semantics absorbed
    // a replayed batch whose edges were already in the stored stream;
    // the XOR fingerprint would cancel them pairwise instead). The
    // least/greatest projection absorbs opposite-ORIENTATION duplicates
    // too ((b, a) delivered when (a, b) is stored — byte-unequal, so
    // distinct() alone would let it through to cancel a neighbor; r21
    // advisor): one cheap codegen'd projection on the touched stream.
    // Both deduplicate only the TOUCHED stream — delta-proportional by
    // the fold's own argument — and untouched duplicates never matter
    // (those rows carry over from storedFp verbatim).
    val touchedRaw = merged
      .join(tFlagA, Seq(aCol), "left")
      .join(tFlagB, Seq(bCol), "left")
      .filter(col("_ta").isNotNull || col("_tb").isNotNull)
    val touchedEdges =
      if (dedupTouched)
        touchedRaw
          .select(least(col(aCol), col(bCol)).as(aCol),
            greatest(col(aCol), col(bCol)).as(bCol))
          .distinct()
      else touchedRaw.select(col(aCol), col(bCol))
    val newFp = adjacencyFingerprints(touchedEdges, aCol, bCol)
      .join(broadcast(touched).withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_semi")
    storedFp
      .join(broadcast(touched).withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(newFp)
  }

  /** Twin classes of the undirected graph: (doc_id, cls, s) where `cls`
    * is the class label (min member id — deterministic) and `s` the
    * class size. One shuffle whose map-side partial aggregation reduces
    * the 2|E| hash stream to |V|-sized three-long partials, one
    * node-sized regroup.
    */
  def twinClasses(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    classesFromFingerprints(adjacencyFingerprints(edges, aCol, bCol))

  /** The STREAMING face of the twin fold — drive from
    * `writeStream.foreachBatch`: fold one edge micro-batch into a
    * SERVED fingerprint table and append the batch to the accumulated
    * edge table. Like [[HyperLogLog.refreshBatch]] this tolerates
    * AT-LEAST-ONCE delivery: adjacency is USED as a set — the fold
    * canonicalizes and distinct()s the touched edge stream, and the
    * full-rebuild branch distinct()s the accumulated table — so
    * replayed edges re-derive the identical fingerprints and the served
    * TWIN STRUCTURE is exact under replay even though the edge table
    * accumulates duplicate rows (storage-only; compact by deduplicating
    * whenever convenient). The localCheckpoint pins the fold before the
    * overwrite drops its own source; per-batch cost is the arrival
    * footprint + a node-sized carry-over, never an edge-stream re-hash.
    *
    * MIGRATION (r21 fingerprint schema change): `fpTable`s persisted
    * before the struct(n, h1, h2) fingerprint (the md5-string schema)
    * cannot be folded into — the storedFp/newFp unionByName fails loudly
    * on the type mismatch. Rebuild the fingerprint table from the edge
    * table once (drop `fpTable`; the next batch's tableExists branch
    * rebuilds from the FULL accumulated edge stream, which is exactly
    * the crash-recovery path below).
    */
  def refreshFingerprintsBatch(
      batchEdges: DataFrame,
      fpTable: String,
      edgeTable: String,
      aCol: String, bCol: String): Unit = {
    val spark = batchEdges.sparkSession
    // WRITE ORDER: edges FIRST, fingerprints second. A crash between the
    // two writes then leaves a stale fpTable beside a complete edge
    // stream — which the at-least-once replay of the same batch repairs
    // exactly (adjacency is a set). The reverse order would lose the
    // batch's edges from edgeTable while fpTable already claims them,
    // and every later fold would silently re-hash touched vertices from
    // an edge stream missing those edges — unrepairable by replay.
    // Appending first is also fold-transparent: refreshFingerprints
    // unions stored and delta edges anyway, so stored edges already
    // containing the batch changes nothing.
    val pinnedBatch = batchEdges.select(col(aCol), col(bCol)).localCheckpoint()
    try {
      pinnedBatch.write.mode("append").format("parquet").saveAsTable(edgeTable)
      val folded =
        if (spark.catalog.tableExists(fpTable))
          refreshFingerprints(
            spark.table(fpTable), spark.table(edgeTable), pinnedBatch, aCol, bCol)
        // First batch (or a crash before the very first fp write): build
        // from the FULL edge table, not just the batch — after the
        // append above it holds everything ever delivered. distinct():
        // the accumulated table legitimately holds replayed duplicates,
        // which the XOR fingerprint (unlike the old set semantics) must
        // not see twice.
        else adjacencyFingerprints(
          spark.table(edgeTable).select(col(aCol), col(bCol)).distinct(),
          aCol, bCol)
      val pinned = folded.localCheckpoint()
      try pinned.write.mode("overwrite").format("parquet").saveAsTable(fpTable)
      finally pinned.unpersist()
    } finally pinnedBatch.unpersist()
  }

  /** Quotient edges between DISTINCT twin classes, canonical
    * (min, max) class labels, deduplicated. Class-complete by the twin
    * property: one row here means EVERY cross pair exists below.
    * Public so a build-once caller can derive it alongside
    * [[twinClasses]] and feed both into every collapsed product —
    * paying the edge-stream pass once, not per operator.
    */
  def quotientEdges(e: DataFrame, vcls: DataFrame): DataFrame =
    e.join(vcls.select(col("doc_id").as("u"), col("cls").as("ca")), Seq("u"))
      .join(vcls.select(col("doc_id").as("v"), col("cls").as("cb")), Seq("v"))
      .filter(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("qa"),
        greatest(col("ca"), col("cb")).as("qb"))
      .distinct()

  /** Driver-local quotient arithmetic (r21 optimization — the
    * [[Components]] driverEdgeLimit device applied to the collapsed
    * products): the quotient frames handed between phase products are
    * KB-scale BY THE COLLAPSE'S OWN ARGUMENT (that is why the products
    * are affordable at all), yet each product ran ~10 tiny distributed
    * stages over them (degree joins, wedge joins, per-class folds).
    * When the caller supplies BOTH persisted phase frames and the
    * quotient fits the limit, the per-CLASS numbers are computed
    * locally in exact long arithmetic — identical values, the same
    * formulas — and only the node-sized expansion join stays
    * distributed (against a broadcast LocalRelation). Quotients past
    * the limit keep the distributed stages. The default of each
    * operator's `driverLimit`; 0 disables the driver path entirely —
    * including the zero-quotient-edge case the class probe below guards.
    */
  val QuotientDriverLimit = 1000000L

  /** Collected quotient state: class sizes and the undirected class
    * adjacency, or None when EITHER frame exceeds the limit. Gating on
    * quotient edges alone (pre-r22) was the wrong proxy for driver
    * footprint on exactly the canonical dedup shape: a corpus of
    * disjoint duplicate cliques collapses to ~one class per clique and
    * ZERO quotient edges, so a billion-cluster graph passed the edge
    * gate and collected a billion class rows (r21 verdict item 1). The
    * class side gates via a limit+1 probe collect — no extra job: the
    * probe IS the class collect this function needs when it passes. */
  private def collectQuotient(
      classes: DataFrame, q: DataFrame, driverLimit: Long)
      : Option[(scala.collection.mutable.LongMap[Long],
          scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]],
          Array[(Long, Long)])] = {
    if (q.count() > driverLimit) return None
    val probe = (math.min(driverLimit, Int.MaxValue - 1L) + 1L).toInt
    val classRows = classes.limit(probe).collect()
    if (classRows.length >= probe) return None
    val qRows = q.collect().map(r => (r.getLong(0), r.getLong(1)))
    val sizes = scala.collection.mutable.LongMap.empty[Long]
    classRows.foreach(r => sizes(r.getLong(0)) = r.getLong(1))
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    def add(x: Long, y: Long): Unit =
      adj.getOrElseUpdate(x, scala.collection.mutable.ArrayBuffer.empty) += y
    qRows.foreach { case (a, b) => add(a, b); add(b, a) }
    Some((sizes, adj, qRows))
  }

  /** [[vertexTriangleCounts]] by twin collapse — identical output,
    * never enumerates a triangle. Per class C with size s and
    * class-adjacency weight S = sum of adjacent class sizes:
    * T(v in C) = C(s-1, 2)                (both others in C)
    *           + (s-1) * S                (one other in C)
    *           + sum over D adj C of C(s_D, 2)
    *                                      (both others a pair in ONE
    *                                       adjacent class — complete
    *                                       bipartite + D's clique)
    *           + sum over quotient triangles (C, D, E) of s_D * s_E
    *                                      (one vertex in each class).
    * The quotient triangle stage reuses the oriented compact-forward
    * above on the (tiny) quotient — or, when both phase frames are
    * supplied and the quotient is broadcast-scale, the same arithmetic
    * runs on the driver (see [[QuotientDriverLimit]]).
    */
  def vertexTriangleCountsCollapsed(
      edges: DataFrame, aCol: String, bCol: String,
      vclsOpt: Option[DataFrame] = None,
      qOpt: Option[DataFrame] = None,
      driverLimit: Long = QuotientDriverLimit): DataFrame = {
    if (vclsOpt.isDefined && qOpt.isDefined) {
      val vcls = vclsOpt.get
      collectQuotient(vcls.select("cls", "s").distinct(), qOpt.get, driverLimit).foreach {
        case (sizes, adj, _) =>
          val perClass = sizes.iterator.map { case (c, s) =>
            val nbrs = adj.getOrElse(c, scala.collection.mutable.ArrayBuffer.empty)
            val sAdjV = nbrs.iterator.map(sizes).sum
            val pairAdj = nbrs.iterator.map { d =>
              val sd = sizes(d); (sd * (sd - 1L)) >> 1
            }.sum
            // quotient triangles at corner c: adjacent pairs (d, e)
            // that are themselves quotient-adjacent; each unordered
            // triangle credits its three corners once via d < e.
            val nbrSet = nbrs.toSet
            var triW = 0L
            val sorted = nbrs.sorted
            var i = 0
            while (i < sorted.length) {
              val d = sorted(i)
              val dn = adj.getOrElse(d, scala.collection.mutable.ArrayBuffer.empty)
              dn.foreach { e2 =>
                if (e2 > d && nbrSet.contains(e2)) triW += sizes(d) * sizes(e2)
              }
              i += 1
            }
            c -> ((((s - 1L) * (s - 2L)) >> 1) + (s - 1L) * sAdjV +
              pairAdj + triW)
          }.filter(_._2 > 0L).toSeq
          val session = vcls.sparkSession
          import session.implicits._
          return vcls.join(
              broadcast(perClass.toDF("cls", "n_triangles")), Seq("cls"))
            .select(col("doc_id"), col("n_triangles"))
      }
    }
    val e = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    val vcls = vclsOpt.getOrElse(twinClasses(edges, aCol, bCol))
    val classes = vcls.select("cls", "s").distinct()
    val q = qOpt.getOrElse(quotientEdges(e, vcls))
    // S_adj(C): sum of neighbor-class sizes in the quotient
    val qund = q.select(col("qa").as("c"), col("qb").as("d"))
      .unionAll(q.select(col("qb").as("c"), col("qa").as("d")))
    val sAdj = qund
      .join(classes.select(col("cls").as("d"), col("s").as("sd")), Seq("d"))
      .groupBy(col("c").as("cls"))
      .agg(sum(col("sd")).as("s_adj"),
        sum(shiftright(col("sd") * (col("sd") - 1), 1)).as("pair_adj"))
    // quotient triangles: per corner, the product of the OTHER two sizes
    val qtri = closedTriangles(q, "qa", "qb")
    val szs = classes.select(col("cls"), col("s"))
    val qtriSized = qtri
      .join(szs.select(col("cls").as("a"), col("s").as("sa")), Seq("a"))
      .join(szs.select(col("cls").as("lo"), col("s").as("slo")), Seq("lo"))
      .join(szs.select(col("cls").as("hi"), col("s").as("shi")), Seq("hi"))
    val triW = qtriSized.select(col("a").as("cls"), (col("slo") * col("shi")).as("w"))
      .unionAll(qtriSized.select(col("lo").as("cls"), (col("sa") * col("shi")).as("w")))
      .unionAll(qtriSized.select(col("hi").as("cls"), (col("sa") * col("slo")).as("w")))
      .groupBy("cls").agg(sum(col("w")).as("tri_w"))
    val perClass = classes
      .join(sAdj, Seq("cls"), "left")
      .join(triW, Seq("cls"), "left")
      .select(col("cls"),
        // (s-1)(s-2) is even, so the >>1 is the exact C(s-1, 2) in pure
        // long arithmetic (a `/` here would detour through DOUBLE)
        (shiftright((col("s") - 1) * (col("s") - 2), 1) +
          (col("s") - 1) * coalesce(col("s_adj"), lit(0L)) +
          coalesce(col("pair_adj"), lit(0L)) +
          coalesce(col("tri_w"), lit(0L))).as("n_triangles"))
      .filter(col("n_triangles") > 0)
    vcls.join(perClass, Seq("cls"))
      .select(col("doc_id"), col("n_triangles"))
  }

  /** Per-edge triangle support by twin collapse — identical to
    * [[edgeSupport]] (positive-support rows), never enumerates: an
    * intra-class edge (u, v in C) has support (s-2) + S_adj(C); a
    * cross-class edge (C, D) has support (s_C - 1) + (s_D - 1) + W(C,D)
    * with W the size-weighted common quotient neighborhood — one wedge
    * join on the tiny quotient.
    */
  def edgeSupportCollapsed(
      edges: DataFrame, aCol: String, bCol: String,
      vclsOpt: Option[DataFrame] = None,
      qOpt: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    val vcls = vclsOpt.getOrElse(twinClasses(edges, aCol, bCol))
    val classes = vcls.select("cls", "s").distinct()
    val q = qOpt.getOrElse(quotientEdges(e, vcls))
    val qund = q.select(col("qa").as("c"), col("qb").as("d"))
      .unionAll(q.select(col("qb").as("c"), col("qa").as("d")))
    val sAdj = qund
      .join(classes.select(col("cls").as("d"), col("s").as("sd")), Seq("d"))
      .groupBy(col("c").as("cls")).agg(sum(col("sd")).as("s_adj"))
    // W(C, D): common quotient neighbors of C and D, size-weighted
    val w = qund.select(col("c").as("qa"), col("d").as("e"))
      .join(qund.select(col("c").as("qb"), col("d").as("e")), Seq("e"))
      .filter(col("qa") < col("qb"))
      .join(classes.select(col("cls").as("e"), col("s").as("se")), Seq("e"))
      .groupBy("qa", "qb").agg(sum(col("se")).as("w_common"))
    val tagged = e
      .join(vcls.select(col("doc_id").as("u"), col("cls").as("cu"), col("s").as("su")), Seq("u"))
      .join(vcls.select(col("doc_id").as("v"), col("cls").as("cv"), col("s").as("sv")), Seq("v"))
    val intra = tagged.filter(col("cu") === col("cv"))
      .join(sAdj.select(col("cls").as("cu"), col("s_adj")), Seq("cu"), "left")
      .select(col("u"), col("v"),
        (col("su") - 2 + coalesce(col("s_adj"), lit(0L))).as("support"))
    val cross = tagged.filter(col("cu") =!= col("cv"))
      .withColumn("qa", least(col("cu"), col("cv")))
      .withColumn("qb", greatest(col("cu"), col("cv")))
      .join(w, Seq("qa", "qb"), "left")
      .select(col("u"), col("v"),
        (col("su") - 1 + col("sv") - 1 + coalesce(col("w_common"), lit(0L))).as("support"))
    intra.unionAll(cross)
      .filter(col("support") > 0)
      .select(col("u").as(aCol), col("v").as(bCol), col("support"))
  }

  /** [[trussEdges]] via the collapsed support — the form that survives
    * billion-triangle dup graphs.
    */
  def trussEdgesCollapsed(
      edges: DataFrame, aCol: String, bCol: String, minSupport: Long,
      vclsOpt: Option[DataFrame] = None,
      qOpt: Option[DataFrame] = None): DataFrame =
    edgeSupportCollapsed(edges, aCol, bCol, vclsOpt, qOpt)
      .filter(col("support") >= minSupport)
      .select(col(aCol), col(bCol))

  /** Full k-truss PEELING on the collapsed support: iterate the single
    * support cut ([[trussEdgesCollapsed]]) to a FIXED POINT. One cut
    * removes zero-support bridges, but removing an edge can strip
    * support from the survivors (a triangle dies with any of its three
    * edges), which only re-cutting can see — the fixed point is the
    * true k-truss, the maximal subgraph where EVERY edge keeps
    * support >= minSupport within the subgraph itself.
    *
    * Each round re-collapses the survivor graph (twin classes of the
    * survivors can differ from the original's) and recomputes the
    * closed-form quotient support — one linear adjacency shuffle plus
    * tiny-quotient work per round, never a triangle enumeration. The
    * survivor set only shrinks, so rounds get cheaper, and on dup
    * graphs convergence is fast (dense paraphrase cliques are stable
    * under the cut; measured on the sf0.1 fixture the 3-truss converges
    * on the FIRST re-cut — cut 2 drops nothing). `maxIters` bounds the
    * driver loop; the loop exits early at the fixed point (output
    * counts are monotone, so equal cardinality = equal edge set, one
    * driver-side scalar per round). Unconverged-at-maxIters output is
    * exactly `maxIters` cuts — the same prefix an oracle unrolls, so
    * equality checks need no convergence assumption.
    *
    * Per-round frames are eagerly localCheckpoint-pinned (the iterative
    * lineage would otherwise double per round) and the PRIOR round's
    * blocks are released as soon as the next is materialized
    * ([[Checkpoints.release]] — the round-10 leak class). The caller
    * owns the returned frame's checkpoint blocks: release after
    * materializing.
    */
  def trussPeelCollapsed(
      edges: DataFrame, aCol: String, bCol: String, minSupport: Long,
      maxIters: Int): DataFrame = {
    val (fixed, fixedVcls) =
      trussPeelCollapsedWithDecomp(edges, aCol, bCol, minSupport, maxIters)
    fixedVcls.foreach(Checkpoints.release)
    fixed
  }

  /** [[trussPeelCollapsed]] plus the fixed point's OWN twin decomposition
    * when the loop exited by convergence: the no-drop round computed its
    * classes from exactly the graph being returned, so they ARE the fixed
    * graph's decomposition — handing them to the next collapsed product
    * (canonicals/counts/stats) skips that product's adjacency-fingerprint
    * pass, the dominant cost of every collapsed derivation. None when the
    * loop exhausted `maxIters` without converging (the last classes
    * computed belong to the pre-cut graph, not the returned one). The
    * caller owns the checkpoint blocks of BOTH returned frames.
    */
  def trussPeelCollapsedWithDecomp(
      edges: DataFrame, aCol: String, bCol: String, minSupport: Long,
      maxIters: Int,
      firstVcls: Option[DataFrame] = None,
      firstQ: Option[DataFrame] = None): (DataFrame, Option[DataFrame]) = {
    require(minSupport >= 1, s"minSupport must be >= 1: $minSupport")
    require(maxIters >= 1, s"maxIters must be >= 1: $maxIters")
    var cur = edges.select(col(aCol), col(bCol)).localCheckpoint()
    // minSupport = 1 shortcut: the cut removes exactly the support-0
    // edges, and a support-0 edge is in NO triangle — removing it cannot
    // change any other edge's support, so ONE cut is provably the fixed
    // point (TrianglesSpec pins the theorem against the iterated model).
    // Skipping the confirmation round saves a full re-collapse +
    // quotient-support pass that would only discover "nothing dropped".
    // No decomposition is claimed: the returned graph's classes differ
    // from the input's (degrees changed at cut survivors' neighbors).
    if (minSupport == 1L) {
      val vcls0 = firstVcls.getOrElse(twinClasses(cur, aCol, bCol))
        .localCheckpoint()
      val fixed = trussEdgesCollapsed(
        cur, aCol, bCol, minSupport, Some(vcls0), firstQ).localCheckpoint()
      fixed.count() // materialize before releasing inputs
      Checkpoints.release(cur)
      Checkpoints.release(vcls0)
      return (fixed, None)
    }
    var curCount = cur.count()
    var it = 0
    var fixedVcls: Option[DataFrame] = None
    while (it < maxIters && fixedVcls.isEmpty) {
      // Classes pinned per round (node-sized) so the convergence round's
      // frame survives for the caller instead of being re-derived.
      // Round 0 accepts a caller-supplied decomposition (+ quotient) of
      // the INPUT graph (persisted phase products) and skips its
      // fingerprint pass; later rounds always re-derive (the cut
      // changed degrees).
      val vcls = (if (it == 0) firstVcls else None)
        .getOrElse(twinClasses(cur, aCol, bCol)).localCheckpoint()
      val next = trussEdgesCollapsed(
          cur, aCol, bCol, minSupport, Some(vcls),
          if (it == 0) firstQ else None)
        .localCheckpoint()
      val nextCount = next.count()
      // the cut only filters its input, so |next| = |cur| => next == cur
      if (nextCount == curCount) {
        fixedVcls = Some(vcls)
        Checkpoints.release(next)
      } else {
        Checkpoints.release(cur)
        Checkpoints.release(vcls)
        cur = next
        curCount = nextCount
      }
      it += 1
    }
    (cur, fixedVcls)
  }

  /** The twin decomposition as an auditable product: one row per class
    * with its label (min member id), size, and quotient degree — the
    * collapse-health diagnostic (how much did the graph shrink, is one
    * class dominating) and the direct verification surface for
    * [[twinClasses]] itself, which three operators stand on.
    */
  def twinQuotientStats(edges: DataFrame, aCol: String, bCol: String,
      vclsOpt: Option[DataFrame] = None,
      qOpt: Option[DataFrame] = None,
      driverLimit: Long = QuotientDriverLimit): DataFrame = {
    if (vclsOpt.isDefined && qOpt.isDefined) {
      val vcls = vclsOpt.get
      // Entirely quotient-level output — compute it locally when the
      // phase frames are broadcast-scale (see QuotientDriverLimit).
      collectQuotient(vcls.select("cls", "s").distinct(), qOpt.get, driverLimit).foreach {
        case (sizes, adj, _) =>
          val out = sizes.iterator.map { case (c, s) =>
            (c, s, adj.get(c).map(_.length.toLong).getOrElse(0L))
          }.toSeq
          val session = vcls.sparkSession
          import session.implicits._
          return out.toDF("cls", "s", "q_deg")
      }
    }
    val e = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    val vcls = vclsOpt.getOrElse(twinClasses(edges, aCol, bCol))
    val classes = vcls.select("cls", "s").distinct()
    val q = qOpt.getOrElse(quotientEdges(e, vcls))
    val qDeg = q.select(col("qa").as("cls")).unionAll(q.select(col("qb").as("cls")))
      .groupBy("cls").agg(count(lit(1)).as("q_deg"))
    classes.join(qDeg, Seq("cls"), "left")
      .select(col("cls"), col("s"), coalesce(col("q_deg"), lit(0L)).as("q_deg"))
  }

  /** Connected components of the truss-cut graph WITHOUT ever expanding
    * it: truss support is UNIFORM within a class (every intra-C edge has
    * support s-2+S_adj) and within a class pair (every (C, D) edge has
    * support (s_C-1)+(s_D-1)+W), so the cut acts at QUOTIENT level —
    * survival of one expanded edge implies survival of its whole
    * class-complete bundle. Components therefore run on the (tiny)
    * quotient survivor graph and labels expand to members: a class with
    * surviving intra edges is internally one clique-connected blob; a
    * surviving cross pair fuses two blobs entirely. Labels match the
    * vertex-level flooding exactly because a class label IS its minimum
    * member id. On the sf0.1 fixture this replaces a 2M-edge pointer-
    * jumping run with a ~1k-node one. Output: (doc_id, canonical_id)
    * for every vertex on >= 1 surviving edge — identical to
    * Components.connectedComponents over [[trussEdges]].
    */
  def trussCanonicalsCollapsed(
      edges: DataFrame, aCol: String, bCol: String, minSupport: Long,
      vclsOpt: Option[DataFrame] = None,
      qOpt: Option[DataFrame] = None,
      driverLimit: Long = QuotientDriverLimit): DataFrame = {
    // minSupport = 0 would admit zero-support edges here (the >= cuts
    // below become vacuous) while the expanded path — components over
    // [[trussEdges]], whose inner join against edgeSupport drops
    // support-0 edges even at threshold 0 — would not; reject the
    // degenerate threshold rather than silently diverge.
    require(minSupport >= 1, s"minSupport must be >= 1: $minSupport")
    if (vclsOpt.isDefined && qOpt.isDefined) {
      val vcls = vclsOpt.get
      // Survive conditions, common-neighbor weights, and the quotient
      // components are all class arithmetic — run them locally when the
      // phase frames are broadcast-scale (see QuotientDriverLimit);
      // only the member expansion join stays distributed.
      collectQuotient(vcls.select("cls", "s").distinct(), qOpt.get, driverLimit).foreach {
        case (sizes, adj, qRows) =>
          def sAdjOf(c: Long): Long =
            adj.get(c).map(_.iterator.map(sizes).sum).getOrElse(0L)
          val adjSets = adj.map { case (c, ns) => c -> ns.toSet }
          val crossSurvive = qRows.filter { case (a, b) =>
            val common = adjSets.getOrElse(a, Set.empty)
              .intersect(adjSets.getOrElse(b, Set.empty))
            val w = common.iterator.map(sizes).sum
            sizes(a) - 1L + sizes(b) - 1L + w >= minSupport
          }
          val intraSurvive = sizes.iterator.collect {
            case (c, s) if s >= 2L && s - 2L + sAdjOf(c) >= minSupport => c
          }.toSet
          // min-root union-find over the surviving cross edges — the
          // same fixpoint Components computes (comp = min member id).
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var root = x
            while (parent.getOrElse(root, root) != root)
              root = parent.getOrElse(root, root)
            var cur = x
            while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
            root
          }
          val inCross = scala.collection.mutable.LongMap.empty[Unit]
          crossSurvive.foreach { case (a, b) =>
            inCross(a) = (); inCross(b) = ()
            val ra = find(a); val rb = find(b)
            if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          }
          val keep = inCross.keysIterator.map(c => (c, find(c))).toSeq ++
            intraSurvive.iterator.filterNot(inCross.contains).map(c => (c, c))
          val session = vcls.sparkSession
          import session.implicits._
          return vcls.join(broadcast(keep.toDF("cls", "comp")), Seq("cls"))
            .select(col("doc_id"), col("comp").as("canonical_id"))
      }
    }
    val e = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    val vcls = vclsOpt.getOrElse(twinClasses(edges, aCol, bCol))
    val classes = vcls.select("cls", "s").distinct()
    val q = qOpt.getOrElse(quotientEdges(e, vcls))
    val qund = q.select(col("qa").as("c"), col("qb").as("d"))
      .unionAll(q.select(col("qb").as("c"), col("qa").as("d")))
    val sAdj = qund
      .join(classes.select(col("cls").as("d"), col("s").as("sd")), Seq("d"))
      .groupBy(col("c").as("cls")).agg(sum(col("sd")).as("s_adj"))
    val w = qund.select(col("c").as("qa"), col("d").as("e"))
      .join(qund.select(col("c").as("qb"), col("d").as("e")), Seq("e"))
      .filter(col("qa") < col("qb"))
      .join(classes.select(col("cls").as("e"), col("s").as("se")), Seq("e"))
      .groupBy("qa", "qb").agg(sum(col("se")).as("w_common"))
    val crossSurvive = q
      .join(classes.select(col("cls").as("qa"), col("s").as("sa")), Seq("qa"))
      .join(classes.select(col("cls").as("qb"), col("s").as("sb")), Seq("qb"))
      .join(w, Seq("qa", "qb"), "left")
      .filter(col("sa") - 1 + col("sb") - 1 +
        coalesce(col("w_common"), lit(0L)) >= minSupport)
      .select(col("qa"), col("qb"))
    val intraSurvive = classes.filter(col("s") >= 2)
      .join(sAdj, Seq("cls"), "left")
      .filter(col("s") - 2 + coalesce(col("s_adj"), lit(0L)) >= minSupport)
      .select(col("cls"))
    val qcomp = Components.connectedComponents(crossSurvive, "qa", "qb")
      .select(col("id").as("cls"), col("comp"))
    // classes alive only through their intra clique keep their own label
    val keep = qcomp.unionByName(
      intraSurvive.join(qcomp.select("cls"), Seq("cls"), "left_anti")
        .select(col("cls"), col("cls").as("comp")))
    vcls.join(keep, Seq("cls"))
      .select(col("doc_id"), col("comp").as("canonical_id"))
  }
}
