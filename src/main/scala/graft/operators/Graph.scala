package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that
  * turns pairwise near-duplicate CANDIDATES (minhash/simhash/jaccard
  * pairs) into duplicate CLUSTERS a dedup pass can act on: keep one
  * canonical document per component, drop the rest.
  *
  * An extension beyond reference parity (the reference has no graph
  * surface); standard in training-data pipelines, where transitive
  * closure matters (A≈B, B≈C ⇒ {A,B,C} is one duplicate group even if
  * A≉C pairwise).
  */
object Graph {

  /** Lineage cut with a storage level matched to the table's scale.
    *
    * Node-scale state (labels, ranks — O(|V|) rows) cuts to
    * MEMORY_AND_DISK_SER: small, hot, re-joined every round.
    *
    * Edge-scale state (`edgeScale = true`: symmetrized adjacency,
    * kCore's per-round edge sets — O(|E|) rows) cuts to DISK_ONLY.
    * Measured at sf10 (700M-edge near-dup graph): one symmetrized
    * edge table is ~47 GB of serialized blocks, and ANY in-memory
    * level makes the storage pool fight the per-round joins'
    * execution memory for the heap — first run OOM'd outright
    * (deserialized default), second died of a 128 s full-GC pause
    * tripping the heartbeat timeout (MEMORY_AND_DISK_SER). Disk-only
    * blocks keep the heap for execution; each round re-reads the
    * adjacency at sequential-scan speed, which is the same I/O
    * discipline a 1000-executor cluster applies by landing iteration
    * inputs in storage rather than pinning them in RAM. */
  private def cut(df: DataFrame, edgeScale: Boolean = false): DataFrame =
    if (isCheapToRecompute(df)) df
    else df.localCheckpoint(true,
      if (edgeScale) org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** A cut exists to stop a multiply-consumed subtree from re-running
    * an EXPENSIVE upstream — but when the plan below is nothing but
    * scan/project/filter/union (the staged-table case: graph queries
    * consume pair tables already landed as parquet by
    * `graft.engine.Staging`), re-scanning per consumer is strictly
    * cheaper than materializing a second on-disk copy. Measured at
    * sf10: cutting CC's projected 700M-row edge list re-landed ~22 GB
    * of a table whose parquet form is 3.5 GB on disk two directories
    * away — pure waste, and enough to overflow local disk alongside
    * the symmetrized adjacency blocks. Any shuffle-bearing or
    * aggregating node (join, agg, window, generate, repartition, sort)
    * keeps the cut. */
  private def isCheapToRecompute(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    !df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Generate |
           _: RepartitionOperation | _: Sort => true
      case _ => false
    }
  }

  /** Label every node with the smallest node id reachable from it
    * (`component`), via iterative min-label propagation:
    *
    *   labels ← node id; repeat: label(n) ← min over m ∈ N(n) ∪ {n}
    *   of label(m) until a fixpoint.
    *
    * The self-loop rows added to the edge table make each round exactly
    * ONE join + min-aggregate (no separate "keep my own label" left
    * join), and the edge table is hash-partitioned on the label-source
    * key once up front, so each round shuffles only the label side
    * (O(nodes)) plus the aggregate — fully distributed, nothing on the
    * driver. Convergence is detected by an exact DECIMAL sum of labels:
    * labels only ever decrease, so an unchanged sum ⟺ fixpoint, one
    * scalar job per round instead of a change-count join. Rounds needed
    * = O(log diameter) thanks to the pointer-jumping step below, small
    * for near-dup graphs (duplicate groups are near-cliques, typically
    * 2–4 rounds).
    *
    * If the fast path has not converged after `maxIter` rounds (an
    * adversarially long-diameter graph, or a caller-lowered budget),
    * the operator does NOT fail: it escalates to the alternating
    * large-star / small-star algorithm [Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14], seeded with both
    * the original edges and the partial labels already computed (a
    * label edge n→lbl(n) is always intra-component, so seeding keeps
    * the progress and cannot merge or split components). That variant
    * provably converges in O(log² n) rounds whp — see
    * [[largeSmallStar]].
    *
    * Input: `edges` with two node-id columns; direction is ignored.
    * Duplicate edges are harmless (min is idempotent) — they inflate
    * the per-round join input, so pre-`distinct` heavily duplicated
    * edge sets. Output: (`n`, `component`) for every node appearing in
    * any edge.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50): DataFrame = {
    ccRuns.incrementAndGet()
    // checkpoint the projected edge list BEFORE symmetrizing: the union
    // references it twice, and an unmaterialized subtree would evaluate
    // the (possibly expensive) upstream pair pipeline once per branch
    val e1 = cut(edges.select(col(srcCol).as("n"), col(dstCol).as("m")),
      edgeScale = true)
    // symmetric relation; input pairs (a<b) are unique by convention so
    // the two directions never collide
    val sym = e1.union(e1.select(col("m").as("n"), col("n").as("m")))
    // seed = round 1's PROPAGATE fused into label init: lbl₀(n) =
    // min(n, min N(n)). The node set needs a shuffle either way
    // (distinct vs groupBy-min over the same key — identical exchange),
    // so the seed gets the first propagation round for free and every
    // CC invocation converges one full round (join + jump + checkpoint
    // + probe) earlier; the monotone-sum convergence probe is unchanged
    // (the seed only lowers the starting sum)
    var labels = cut(sym.groupBy(col("n"))
      .agg(least(min(col("m")), col("n")).as("lbl")))
    // self-loops fold "own label" into the neighbour min; partition on
    // the join key once so rounds reuse the exchange. lazy: cut() is
    // EAGER, and with maxIter=0 (forced escalation) the loop never
    // consumes this — the widest frame in the function must not be
    // shuffled and checkpointed for nothing
    lazy val symSelf = cut(sym
      .union(labels.select(col("n"), col("n").as("m")))
      .repartition(col("m")), edgeScale = true)
    // exact sum: monotone decreasing, overflow-free at any scale; an
    // EMPTY frame sums to zero so a pairless input converges to the
    // empty result instead of an NPE. Computed as ONE shuffle-free job
    // over the just-checkpointed blocks (per-partition fold + driver
    // reduce of |partitions| BigIntegers) instead of a SQL decimal agg:
    // the agg's partial/final stages cost 2–3 AQE stage-jobs PER ROUND,
    // which at bench SFs was ~30% of the whole round's wall clock
    // (guide §1.2 — the convergence probe is bookkeeping, not the
    // algorithm; labels are non-negative ids, so per-partition Longs
    // flush to BigInteger well before overflow)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val lblIdx = df.schema.fieldIndex("lbl")
      val parts = df.queryExecution.toRdd.mapPartitions { it =>
        var acc = 0L
        var big = java.math.BigInteger.ZERO
        while (it.hasNext) {
          acc += it.next().getLong(lblIdx)
          if (acc >= (1L << 61)) {
            big = big.add(java.math.BigInteger.valueOf(acc)); acc = 0L
          }
        }
        Iterator.single(big.add(java.math.BigInteger.valueOf(acc)))
      }.collect()
      new java.math.BigDecimal(
        parts.foldLeft(java.math.BigInteger.ZERO)(_ add _))
    }
    var prevSum = labelSum(labels)
    var converged = prevSum.signum == 0 && labels.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      // propagate: min label over neighbours ∪ self
      val prop = symSelf
        .join(labels.select(col("n").as("m"), col("lbl")), "m")
        .groupBy(col("n")).agg(min(col("lbl")).as("lbl"))
      // pointer-jump: lbl(n) ← lbl(lbl(n)). Labels are node ids, so the
      // self-join resolves one extra hop per round, turning O(diameter)
      // rounds into O(log diameter) — the sf0.1 near-dup graph needs 5
      // combined rounds where plain propagation needed 13. Catalyst
      // reuses `prop`'s exchange for both sides (ReusedExchange), so
      // the jump costs one extra tiny join, not a recompute.
      labels = cut(prop.as("x")
        .join(prop.select(col("n").as("j"), col("lbl").as("jl")),
          col("x.lbl") === col("j"), "left")
        .select(col("x.n").as("n"), coalesce(col("jl"), col("x.lbl")).as("lbl")))
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      i += 1
    }
    if (!converged) {
      escalations.incrementAndGet()
      // escalate, never crash: the partial labels are valid intra-
      // component shortcuts, so union them with the original edges and
      // let the provably-bounded star algorithm finish the job
      val seed = sym.union(
        labels.filter(col("n") =!= col("lbl"))
          .select(col("n"), col("lbl").as("m")))
      val stars = largeSmallStar(seed)
      // stars hold (leaf → root) for every non-root node of a size-≥2
      // component; roots (and any self-loop-only singleton, whose edges
      // the star rewrites drop) resolve to themselves via the left join
      labels = labels.select(col("n"))
        .join(stars.select(col("n"), col("m").as("__root")), Seq("n"), "left")
        .select(col("n"), coalesce(col("__root"), col("n")).as("lbl"))
    }
    labels.select(col("n"), col("lbl").as("component"))
  }

  /** Times the star fallback has been entered, process-wide — a test
    * probe: specs that claim the FAST path handled a graph (round-bound
    * evidence) assert this did not move, since the fallback returns
    * identical labels and the claim is otherwise unfalsifiable. */
  private[graft] val escalations = new java.util.concurrent.atomic.AtomicLong

  /** Times [[connectedComponents]] has been ENTERED, process-wide —
    * the probe behind the incremental-clustering claim: a spec that
    * says "this increment issued no full-graph CC job, only the one
    * contracted run" is otherwise unfalsifiable ([[escalations]]'
    * rationale, one layer up). */
  private[graft] val ccRuns = new java.util.concurrent.atomic.AtomicLong

  /** The CONTRACTED-graph half of incremental connected components:
    * given the LANDED clustering of an existing edge set
    * (`landedCC`, the (n, component) table a prior
    * [[connectedComponents]] run produced) and a batch of NEW edges,
    * contract every landed node to its component id and cluster the
    * contracted new edges ALONE — the landed edges never enter the
    * job, because contraction turns every one of them into a
    * droppable self-loop (both endpoints map to the same component
    * id by definition of the clustering).
    *
    * THEOREM (spec-pinned, bridges included): because
    * [[connectedComponents]] labels each component with its MINIMUM
    * node id, the contracted node ids are exactly the minima of the
    * landed components (plus raw ids for nodes the landed graph never
    * saw), so for every contracted node this equals the label a full
    * CC over (landed edges ∪ new edges) assigns: a merged component's
    * full-CC label is min(all member ids) = min(per-landed-component
    * minima ∪ new-node ids) = the contracted CC's label. Composing
    * back through the landed mapping ([[incrementalComponents]])
    * extends the equality to every node.
    *
    * Cost: O(new edges + touched components) per increment — the
    * pointer-jumping rounds run over the contracted batch graph only,
    * never the accumulated corpus graph (which is what made the
    * round-12 `curateIncrement` re-cluster cost grow with corpus
    * age). Output: (n, component) for every CONTRACTED node of the
    * new edges — landed component ids and never-landed (batch) ids;
    * resolve a landed member through its component id. */
  def contractedComponents(landedCC: DataFrame, newEdges: DataFrame,
                           srcCol: String, dstCol: String): DataFrame = {
    val m = landedCC.select(col("n"), col("component"))
    val contracted = newEdges
      .select(col(srcCol).as("__ea"), col(dstCol).as("__eb"))
      .join(m.select(col("n").as("__ea"), col("component").as("__ca")),
        Seq("__ea"), "left")
      .join(m.select(col("n").as("__eb"), col("component").as("__cb")),
        Seq("__eb"), "left")
      .select(coalesce(col("__ca"), col("__ea")).as("__a"),
        coalesce(col("__cb"), col("__eb")).as("__b"))
      .filter(col("__a") =!= col("__b"))
    connectedComponents(contracted, "__a", "__b")
  }

  /** [[contractedComponents]] composed back through the landed
    * mapping — the full-coverage incremental clustering: output covers
    * every node of `landedCC` plus every node of `newEdges`, with
    * labels EQUAL (see the theorem above) to a from-scratch
    * [[connectedComponents]] over (landed edges ∪ new edges). Use
    * this where a consumer needs the whole merged node table (q218's
    * census correction); use [[contractedComponents]] directly where
    * only the touched ids matter (the pipeline increment) — the
    * relabel join here is O(landed nodes), which is linear and
    * shuffle-light but not O(batch). */
  def incrementalComponents(landedCC: DataFrame, newEdges: DataFrame,
                            srcCol: String, dstCol: String): DataFrame =
    relabelThrough(landedCC,
      contractedComponents(landedCC, newEdges, srcCol, dstCol))

  /** The relabel half of [[incrementalComponents]], factored out so a
    * caller that already HOLDS the contracted labels (the pipeline
    * increment, which needs them for survivor verdicts anyway) can
    * compose the full merged node table without a second CC run. */
  def relabelThrough(landedCC: DataFrame, contractedCC: DataFrame): DataFrame = {
    // a landed node's merged label: its component id, resolved one hop
    // through the contracted labels when the increment touched it
    val landed = landedCC
      .join(contractedCC.select(col("n").as("component"),
        col("component").as("__m")), Seq("component"), "left")
      .select(col("n"), coalesce(col("__m"), col("component")).as("component"))
    // never-landed (batch) nodes: their contracted row IS their row
    val newOnly = contractedCC.join(landedCC.select(col("n")), Seq("n"),
      "left_anti")
    landed.unionByName(newOnly)
  }

  /** One large-star rewrite: every node connects its strictly-LARGER
    * neighbours to the minimum of its closed neighbourhood. The
    * neighbourhood min comes from a whole-partition window over the
    * node id — ONE shuffle, no groupBy-min joined back to its own
    * source (a self-join above the symmetrizing union trips Spark's
    * Union constraint rewrite with a key-not-found on shared attribute
    * ids), and WindowExec streams/spills the partition rather than
    * collecting Γ(u) into a buffer. */
  private def largeStar(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = e.union(e.select(col("m").as("n"), col("n").as("m")))
    sym.withColumn("__mn",
        least(min(col("m")).over(Window.partitionBy(col("n"))), col("n")))
      .filter(col("m") > col("n"))
      .select(col("m").as("n"), col("__mn").as("m"))
      .distinct()
  }

  /** One small-star rewrite: edges oriented large→small; every node
    * connects its (all smaller) neighbours and itself to the minimum
    * neighbour. Same single-shuffle window-min shape as [[largeStar]];
    * the self row rides along via explode (u repeats once per
    * neighbour; distinct collapses it). */
  private def smallStar(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = e.select(greatest(col("n"), col("m")).as("n"),
        least(col("n"), col("m")).as("m"))
      .filter(col("n") =!= col("m"))
      .distinct()
    o.withColumn("__mn", min(col("m")).over(Window.partitionBy(col("n"))))
      .select(explode(array(col("m"), col("n"))).as("v"), col("__mn"))
      .filter(col("v") =!= col("__mn"))
      .select(col("v").as("n"), col("__mn").as("m"))
      .distinct()
  }

  /** Alternating large-star/small-star [Kiveris et al., SoCC'14] until
    * the edge set reaches its fixpoint — a forest of stars whose root
    * is each component's minimum node id. Every round is a constant
    * number of hash shuffles; the paper bounds rounds at O(log² n) whp
    * (O(log n) in practice), independent of diameter — the guarantee
    * the min-label fast path lacks. Returns the star edges
    * (n = non-root member, m = component root); nodes whose component
    * collapsed to a singleton (self-loop-only inputs) drop out and are
    * the caller's left-join responsibility.
    *
    * Convergence check is EXACT set equality (both sides distinct:
    * equal counts + empty except), not a hashed checksum — one extra
    * scan per round on a shrinking edge set, zero false fixpoints. */
  private[operators] def largeSmallStar(edges: DataFrame): DataFrame = {
    var e = cut(edges.filter(col("n") =!= col("m")).distinct(), edgeScale = true)
    var eCount = e.count()
    if (eCount == 0) return e
    // nodes ≤ 2·edges; the paper's whp bound is O(log² n) rounds with
    // small constants — 16·⌈log₂(n)⌉² (min 64) is unreachable for any
    // input that fits in a cluster, and exists only to turn an
    // algorithmic regression into a loud failure instead of a hang
    val nUpper = 2L * eCount + 2L
    val log2n = 64 - java.lang.Long.numberOfLeadingZeros(nUpper)
    val bound = math.max(64L, 16L * log2n * log2n)
    var stable = false
    var rounds = 0L
    while (!stable && rounds < bound) {
      val next = cut(smallStar(largeStar(e)), edgeScale = true)
      val nextCount = next.count()
      stable = nextCount == eCount && next.except(e).isEmpty
      e = next
      eCount = nextCount
      rounds += 1
    }
    require(stable, s"large-star/small-star exceeded $bound rounds on " +
      s"~$nUpper nodes — algorithmic invariant broken (paper bound is " +
      "O(log² n) whp); this indicates a defect, not an oversized input")
    e
  }

  /** Per-node triangle participation counts via the edge-iterator
    * algorithm: orient every edge small→large id so each triangle
    * a<b<c is generated EXACTLY once as wedge (a→b, b→c) closed by
    * edge (a→c) — two equi-joins, no cross product, no per-node
    * adjacency materialization. The closing check is a LEFT SEMI join,
    * BROADCAST for edge sets under [[BroadcastClosingMaxEdges]] so the
    * Θ(Σ deg²) wedge table is probed map-side instead of shuffled.
    * Output: (node, n_triangles) for every node in ≥ 1 triangle.
    *
    * Scale note: id-orientation is correct always, but on power-law
    * graphs the wedge count concentrates on high-degree nodes; the
    * standard fix is degree-orientation (orient low-degree→high-degree,
    * making wedge work O(m^{3/2}) worst-case) — one extra degree agg +
    * join, same shape otherwise. Near-dup pair graphs are small dense
    * cliques where id-orientation is already balanced. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangleCountsCanonical(canonicalEdges(edges, srcCol, dstCol))

  /** id-oriented distinct edge set (a < b), STAGED — the shared
    * normalization of [[triangleCounts]] and [[clusteringCoefficients]].
    * It feeds three join arms of the triangle plan plus the degree agg;
    * unstaged, Spark would recompute the distinct per consumer arm.
    * Plan-keyed staging lands it once per (process, input); literal
    * test inputs fall back to persist inside stagedByPlan. */
  private def canonicalEdges(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame =
    graft.engine.Staging.stagedByPlan(
      edges
        .select(least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct(),
      "canonical_edges")

  /** Deserialized-bytes-per-stored-byte expansion of the closing edge
    * set when it becomes a broadcast hash relation: parquet-compressed
    * (a, b) long pairs (~10 B/row landed) expand to LongToUnsafeRowMap /
    * BytesToBytesMap entries with row object + hash-slot overhead
    * (~60 B/row) — call it 6×, rounded against us. */
  private val BroadcastExpansion = 6L

  /** Absolute ceiling on the DESERIALIZED closing-relation size,
    * applied under the heap-derived budget: the budget scales with the
    * deploy (15% of a 4 GB executor ≈ 100 MB) but on a fat driver
    * (local[32] at 128 GB, or a 64 GB cluster driver) 15% of heap is
    * far past what a broadcast relation should ever be — Spark itself
    * hard-fails broadcasts at 8 GB, and the optimizer's estimate this
    * gate trusts can UNDER-shoot by orders of magnitude on plans
    * without leaf-backed stats (filter/aggregate subtrees), where a
    * too-generous budget turns an estimate error into an executor OOM.
    * 2 GB deserialized ≈ 50M closing edges — the scale past which the
    * shuffled semi-join is the right plan anyway. */
  private val BroadcastClosingCapBytes = 2L << 30

  /** Heap budget for the broadcast closing-edge relation: a slice of
    * the smallest worker heap (spark.executor.memory when set — the
    * cluster case; this JVM's max heap in local mode, where driver and
    * executors share it). 15% leaves the rest for the wedge probe
    * stage's own operators; the old fixed 50M-edge constant (~3 GB
    * deserialized) OOM'd the margin on a default 4 GB executor, where
    * this derives ~100 MB — the threshold now moves with the deploy's
    * memory instead of assuming one. */
  private def broadcastClosingBudgetBytes(spark: org.apache.spark.sql.SparkSession): Long = {
    val execMem = spark.sparkContext.getConf
      .getSizeAsBytes("spark.executor.memory", "0")
    val heap = if (execMem > 0) execMem else Runtime.getRuntime.maxMemory
    (heap * 0.15).toLong
  }

  /** The unstaged wedge→close→count plan — `private[graft]` so the plan
    * test can assert the broadcast closing join, which the staged
    * wrapper below hides behind a parquet scan.
    *
    * Why broadcast at all: the wedge table is Θ(Σ deg²) rows (sf1 pair
    * graph: 6.9M edges → 2.9e9 wedges); a shuffled semi-join ships
    * every wedge row (~100 GB), whereas broadcasting the 2-long edge
    * rows keeps the entire wedge→close→explode→partial-agg chain in
    * ONE map-side stage — the only shuffles left are the edge
    * self-join input (O(m)) and the |V|-key final agg. Beyond the
    * budget the shuffled semi-join is the correct fallback: at that
    * edge volume the graph is no near-dup pair graph and the shuffle
    * is unavoidable. */
  private[graft] def wedgeTriangleCounts(e: DataFrame): DataFrame = {
    // e is the STAGED canonical edge set (see canonicalEdges): each of
    // the three arms below re-scans the landed table. The broadcast
    // decision reads the OPTIMIZER's size estimate (parquet file bytes
    // for a staged scan) — a driver-side metadata lookup; the previous
    // e.count() here fired a Spark job at plan-CONSTRUCTION time, i.e.
    // on every triangleCounts/clusteringCoefficients call before any
    // action, and explain()/tests executed it too.
    val closing = e.select(col("a"), col("b").as("c"))
    val estBytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
    val fits = estBytes * BroadcastExpansion <=
      math.min(broadcastClosingBudgetBytes(e.sparkSession),
        BroadcastClosingCapBytes)
    val closingSide = if (fits) broadcast(closing) else closing
    val wedges = e.select(col("a"), col("b").as("m"))
      .join(e.select(col("a").as("m"), col("b").as("c")), "m")
    val closed = wedges.join(closingSide, Seq("a", "c"), "left_semi")
    closed
      .select(explode(array(col("a"), col("m"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  private def triangleCountsCanonical(e: DataFrame): DataFrame =
    // Wedge enumeration is Θ(Σ deg²) — on a near-dup pair graph that
    // saturates (sf1: one 48k-node quasi-clique, ~5·10⁹ wedges) it is
    // BY FAR the most expensive subplan in the catalog, and two catalog
    // queries (triangle counts, clustering coefficients) consume the
    // identical result. Land it once per process as a staged table (the
    // q58/q59 pattern): the second consumer scans a 46k-row parquet
    // instead of re-grinding the wedges. Literal (test) inputs fall
    // back to persist inside stagedByPlan.
    graft.engine.Staging.stagedByPlan(wedgeTriangleCounts(e), "triangles")

  /** Local clustering coefficient per node:
    * cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how close a node's
    * neighborhood is to a clique (cc 1.0 = true duplicate cluster,
    * low cc = chain of borderline matches). Degree comes from the SAME
    * canonicalized distinct edge set [[triangleCounts]] counts over,
    * so T(v) ≤ C(deg, 2) holds by construction. Degree-1 nodes have no
    * possible triangle: cc = 0 (the 0/0 case pinned, not NULL). Two
    * aggs + one left join, all on node keys. */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.join(triangleCountsCanonical(e), Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (lit(2L) * col("n_triangles")).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)))
  }

  /** PageRank over an undirected edge list in FIXED-POINT integer
    * arithmetic — node centrality for the near-dup graph (which member
    * of a duplicate cluster is the "canonical hub"?) and any other
    * entity graph a pipeline derives. Ranks are maintained as integer
    * micro-units of `base` (default 10¹²), every step pure integral
    * `div`/`*`/`+`: unlike double-accumulated PageRank, the result is
    * bit-identical under ANY partition count, merge order, or engine —
    * the same order-independence discipline as the exact-decimal
    * aggregates, achieved here with `sum(LONG)` instead of decimals
    * because the iteration itself must re-consume the values.
    *
    *   r₀ = base div N
    *   rᵢ₊₁(v) = (100−d)·(base div N) div 100
    *             + d·(Σ_{u∈Γ(v)} rᵢ(u) div deg(u)) div 100
    *
    * (d = damping percent, integer). Truncation loses ≤ deg(u) + 2
    * micro-units per node per round — bounded, deterministic, and
    * irrelevant at base 10¹². No dangling-mass term: on a symmetrized
    * graph every node has deg ≥ 1. Per round: one join on the
    * pre-partitioned edge table + one hash agg — the standard
    * distributed PageRank shape, nothing on the driver except the
    * initial node count (one scalar).
    *
    * Output: (`n`, `rank_fp`) with rank_fp in micro-units; divide by
    * `base` for the probability. Σ rank_fp ≤ base (truncation only
    * ever loses mass). */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                         iterations: Int, base: Long = 1000000000000L,
                         dampingPct: Int = 85): DataFrame = {
    require(iterations >= 0 && dampingPct >= 0 && dampingPct <= 100 && base > 0,
      "iterations >= 0, dampingPct in [0,100], base > 0")
    // cut before symmetrizing: the union consumes the upstream pair
    // pipeline twice otherwise (same reasoning as connectedComponents)
    val e1 = cut(edges.select(col(srcCol).as("n"), col(dstCol).as("m"))
      .filter(col("n") =!= col("m")).distinct(),
      edgeScale = true)
    val sym = e1.union(e1.select(col("m").as("n"), col("n").as("m")))
    // the degree CENSUS is cut once (node-sized): every round's
    // contribution join reads it — uncut, each of the `iterations`
    // rounds re-aggregates the full edge list for a table that never
    // changes (round 11; exchange reuse cannot save it because each
    // round is its own query execution)
    val deg = cut(sym.groupBy(col("n")).agg(count(lit(1)).as("deg")))
    // edges partitioned once on the rank-join key; every round reuses
    // the exchange instead of reshuffling the (large) edge side
    val symPart = cut(sym.repartition(col("n")), edgeScale = true)
    val nNodes = deg.count() // one scalar to size r0; the only collect
    if (nNodes == 0)
      return deg.select(col("n"), col("deg").cast("long").as("rank_fp")).limit(0)
    val r0 = base / nNodes
    val teleport = (100L - dampingPct) * r0 / 100L
    var ranks = deg.select(col("n"), lit(r0).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = symPart
        .join(ranks.join(deg, "n").select(col("n"), expr("r div deg").as("c")), "n")
        .groupBy(col("m")).agg(sum(col("c")).as("s"))
      // every node receives ≥ 1 contribution (deg ≥ 1 on the
      // symmetrized graph), so contrib covers the full node set
      ranks = cut(contrib.select(col("m").as("n"),
        (lit(teleport) + expr(s"($dampingPct * s) div 100")).as("r")))
    }
    ranks.select(col("n"), col("r").as("rank_fp"))
  }

  /** Synchronous label propagation — community detection by neighbor
    * majority vote: every node starts as its own label, and each round
    * adopts the label most common among its NEIGHBORS (ties → smallest
    * label, so the vote is total-ordered and the result deterministic
    * under any partitioning — plain LPA's arbitrary tie-break is
    * exactly what makes it non-reproducible). Fixed `rounds`, no
    * convergence test: like [[pageRankFixedPoint]], the unrolled
    * recurrence is what a SQL oracle can replay exactly.
    *
    * Per round: one join of the label table into the pre-partitioned
    * symmetric edge list + one (node, label) count agg + one argmax
    * agg via `max(struct(count, −label))` — O(1) state per (node,
    * label) pair, nothing on the driver. Communities are denser than
    * [[connectedComponents]]' (a bridge edge joins two components but
    * not two LPA communities).
    *
    * Output: (`n`, `community` = converged-ish label after `rounds`). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    // canonicalize orientation BEFORE distinct (like triangleCounts):
    // an edge log carrying both (a,b) and (b,a) would otherwise
    // survive distinct() twice and double that neighbor's vote
    val e1 = cut(edges.select(least(col(srcCol), col(dstCol)).as("n"),
        greatest(col(srcCol), col(dstCol)).as("m"))
      .filter(col("n") =!= col("m")).distinct(),
      edgeScale = true)
    val sym = e1.union(e1.select(col("m").as("n"), col("n").as("m")))
    val symPart = cut(sym.repartition(col("m")), edgeScale = true)
    var labels = sym.select(col("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
    for (_ <- 1 to rounds) {
      val votes = symPart
        .join(labels.select(col("n").as("m"), col("lbl")), "m")
        .groupBy(col("n"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      labels = cut(votes
        .groupBy(col("n"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("w"))
        .select(col("n"), (-col("w.neg")).as("lbl")))
    }
    labels.select(col("n"), col("lbl").as("community"))
  }

  /** k-core: iteratively peel nodes of degree < k until only the k-core
    * remains; returns each surviving node with its in-core degree.
    *
    * FIXED-ROUND form: runs exactly `rounds` peel iterations. Peeling is
    * idempotent once converged, so any `rounds` ≥ the peel depth yields
    * the true k-core, and an unconverged run is still a deterministic
    * function of (edges, k, rounds) — which is what lets an external
    * oracle unroll the identical rounds (the q123 LPA pattern). Each
    * round is one degree hash-agg + two semi-joins on the shrinking
    * edge set; per-round lineage cut via [[cut]]. An under-provisioned
    * `rounds` (shallower than the peel depth) yields a SUPERSET of the
    * true k-core with no other signal. */
  def kCoreFixedRounds(edges: DataFrame, srcCol: String, dstCol: String,
                       k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, "k >= 1, rounds >= 0")
    def peel(e0: DataFrame): DataFrame = {
      val deg = e0.select(col("a").as("node"))
        .union(e0.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("node"))
      cut(e0
        .join(keep.select(col("node").as("a")), "a", "left_semi")
        .join(keep.select(col("node").as("b")), "b", "left_semi")
        .select(col("a"), col("b")), edgeScale = true)
    }
    var e = cut(edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct(),
      edgeScale = true)
    for (_ <- 1 to rounds) e = peel(e)
    e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** The dedup application of [[connectedComponents]]: given documents
    * and near-dup candidate pairs, keep each component's smallest
    * doc id as canonical and return the surviving corpus (canonical
    * docs + everything untouched by any pair). Anti-join ships only
    * the non-canonical id set. */
  def dedupSurvivors(docs: DataFrame, idCol: String, pairs: DataFrame,
                     aCol: String, bCol: String): DataFrame = {
    val dropIds = connectedComponents(pairs, aCol, bCol)
      .filter(col("n") =!= col("component"))
      .select(col("n"))
    docs.join(dropIds, docs(idCol) === dropIds("n"), "left_anti")
  }
}
