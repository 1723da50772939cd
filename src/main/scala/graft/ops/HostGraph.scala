package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Host-graph authority ranking: PageRank (Page et al. 1999) over a
  * domain/host link graph — the crawl-curation prior web-scale corpora
  * gate on (a link-farm domain has volume; it does not have authority,
  * so rank-based caps beat count-based caps in [[UrlCuration]]).
  *
  * All mass arithmetic runs on a fixed integer grid (`scale`) with
  * explicit floor division, so every iteration is exact integer algebra:
  * associative, partition-invariant, and reproducible bit-for-bit by any
  * engine — the same determinism recipe as DSIR / BM25 / the bigram LM.
  *
  * Scale shape: each iteration is one shuffle join of the node-sized rank
  * table onto edges (keyed by src — pre-partitioning edges by src lets
  * every iteration reuse that exchange) plus one aggregate keyed by dst.
  * Nothing driver-side but the node count; iteration state is freed per
  * round (localCheckpoint + explicit block release) so lineage and
  * executor storage stay O(1) in the iteration count.
  */
object HostGraph {

  /** Integer-grid PageRank.
    *
    * Per iteration, with damping d = `dampingPct`/100 and N nodes:
    * {{{
    *   contrib(u→v) = (dampingPct * rank(u)) div (100 * outdeg(u))
    *   rank'(v)     = base + Σ contrib(u→v),
    *   base         = ((100 - dampingPct) * scale) div (100 * N)
    * }}}
    * Self-loops and duplicate edges are dropped. Dangling nodes (no
    * out-edges) leak their damped mass — the standard simplification when
    * the output is an authority ORDER rather than a probability
    * distribution; ranks still converge and compare.
    */
  def pageRank(
      edges0: DataFrame,
      iterations: Int = 10,
      dampingPct: Int = 85,
      scale: Long = 1000000000000L,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    require(dampingPct > 0 && dampingPct < 100,
      s"dampingPct must be in (0, 100), got $dampingPct")
    // the whole loop runs in one partition while the EDGE data fits one
    // (Layout.fitsOnePartition): every frame here — edges, nodes, ranks,
    // per-iteration contributions — is bounded by the edge input and
    // derives from it, and the per-round checkpoints keep the one
    // partition, so no round plans an exchange. `iterations` keyed
    // shuffles of a KB-sized rank table fanned to shuffle.partitions ×
    // iterations near-empty tasks was the round-15 32-core anti-scaling
    // (p17/p19 ran ~4× faster on 8 cores). The integer-grid algebra is
    // partition-invariant, so ranks are bit-identical either way; at
    // 100 TB the estimate exceeds the advisory size and nothing changes.
    val one = Layout.fitsOnePartition(edges0.sparkSession, Layout.planBytes(edges0))
    val pinned = pin(one) _
    val edges = materializedEdges(edges0, srcCol, dstCol, one)
    try {
      val nodes = pinned(edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct())
      val outdeg = pinned(edges.groupBy("src").agg(count(lit(1)).as("deg")))
      // the only driver-side state: one long
      val n = nodes.count()
      require(n > 0, "pageRank on an empty graph")
      val base = ((100L - dampingPct) * scale) / (100L * n)
      val bases = pinned(nodes.withColumn("base", lit(base)))
      var ranks = pinned(nodes.withColumn("rank_scaled", lit(scale / n)))
      for (_ <- 1 to iterations) {
        val next = pinned(iterationStep(edges, bases, outdeg, ranks, dampingPct))
        Ann.release(ranks)
        ranks = next
      }
      // the returned frame is itself a checkpoint — the loop scaffolding's
      // blocks can go now
      Ann.release(nodes)
      Ann.release(bases)
      Ann.release(outdeg)
      ranks
    } finally releaseEdges(edges, one)
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004): PageRank whose
    * teleport mass lands ONLY on a trusted seed set, so authority must
    * flow out of the seeds along links — a spam farm far from any seed
    * ends near zero no matter how densely it interlinks, which plain
    * PageRank cannot promise. Same integer grid, same per-iteration plan
    * shape and lineage discipline as [[pageRank]]; the only differences
    * are the per-node base vector (seeds split the damped mass, others
    * get 0) and the initial ranks (uniform over seeds). Seeds outside the
    * graph are ignored (semi-join); at least one must remain.
    */
  def trustRank(
      edges0: DataFrame,
      seeds: DataFrame,
      iterations: Int = 10,
      dampingPct: Int = 85,
      scale: Long = 1000000000000L,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "node"): DataFrame = {
    require(iterations >= 1, "trustRank needs at least one iteration")
    require(dampingPct > 0 && dampingPct < 100,
      s"dampingPct must be in (0, 100), got $dampingPct")
    // edge-data-derived one-partition test — see pageRank's note
    val one = Layout.fitsOnePartition(edges0.sparkSession, Layout.planBytes(edges0))
    val pinned = pin(one) _
    val edges = materializedEdges(edges0, srcCol, dstCol, one)
    try {
      val nodes = pinned(edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct())
      val seedNodes = pinned(nodes.join(Layout.onePartitionWhen(one)(
        seeds.select(col(seedCol).cast("long").as("node")).distinct()),
        Seq("node"), "left_semi"))
      val nSeeds = seedNodes.count()
      require(nSeeds > 0, "trustRank: no seed appears in the graph")
      val outdeg = pinned(edges.groupBy("src").agg(count(lit(1)).as("deg")))
      val base = ((100L - dampingPct) * scale) / (100L * nSeeds)
      def seedVector(value: Long, outCol: String): DataFrame =
        sumByNode(nodes.select(col("node"), lit(0L).as("v")),
          seedNodes.select(col("node"), lit(value).as("v")), outCol)
      val bases = pinned(seedVector(base, "base"))
      var ranks = pinned(seedVector(scale / nSeeds, "rank_scaled"))
      for (_ <- 1 to iterations) {
        val next = pinned(iterationStep(edges, bases, outdeg, ranks, dampingPct))
        Ann.release(ranks)
        ranks = next
      }
      Ann.release(nodes); Ann.release(seedNodes); Ann.release(bases); Ann.release(outdeg)
      ranks
    } finally releaseEdges(edges, one)
  }

  /** Edge normalization for [[pageRank]]: cast, drop self-loops, dedup —
    * then one explicit src repartition. distinct() alone leaves the edges
    * hash-partitioned on (src, dst), which does NOT satisfy the
    * per-iteration join's src distribution, so every round would
    * re-exchange the full edge set; partitioned by src, the cached layout
    * satisfies all `iterations` joins and per-round shuffle cost is
    * rank-table-sized. Pinned in ExplainAudit (one-iteration plan has no
    * edge-side Exchange). When `one` ([[Layout.fitsOnePartition]]) the
    * edges are planned in one partition instead, which already meets
    * every join's distribution: the repartition is dropped and no
    * exchange is left.
    */
  private[graft] def prepEdges(
      edges0: DataFrame, srcCol: String, dstCol: String, one: Boolean): DataFrame =
    Layout.onePartitionWhen(one)(edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src")))

  /** Integer-grid HITS (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", 1999): hubs point at good authorities,
    * authorities are pointed at by good hubs — the complementary signal
    * to [[pageRank]] for crawl curation (a link-farm HUB scores high on
    * outgoing volume but its authority stays low; gating on authority
    * resists it, and hub scores expose the farms themselves).
    *
    * Per round, on the integer grid:
    * {{{
    *   auth_raw(v) = Σ_{u→v} hub(u);   auth(v) = (auth_raw(v)·scale) div max_v auth_raw
    *   hub_raw(u)  = Σ_{u→v} auth(v);  hub(u)  = (hub_raw(u)·scale) div max_u hub_raw
    * }}}
    * L∞ normalization (divide by the max, not the L2 norm) keeps every
    * step exact integer algebra — partition-invariant and reproducible
    * verbatim by the unrolled SQL oracle. Overflow bound: `auth_raw ≤
    * N·scale`, so the rescale multiply needs `N·scale² < 2^63` — the
    * default `scale`=1e6 is safe to ~9.2M nodes; larger host graphs pass
    * a smaller scale (the ORDER of scores is what curation consumes).
    *
    * Scale shape: TWO persisted edge layouts — src-partitioned for the
    * auth step, dst-partitioned for the hub step — each exchanged once;
    * per round both joins reuse their cached layout and only rank-table-
    * sized aggregates move. Driver-side state per round: the two
    * normalization maxima (two longs — unavoidable, HITS normalizes
    * globally). Lineage/storage stay O(1) via the same per-round
    * localCheckpoint + block-release discipline as [[pageRank]].
    */
  def hits(
      edges0: DataFrame,
      iterations: Int = 8,
      scale: Long = 1000000L,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iterations >= 1, "hits needs at least one iteration")
    require(scale > 0, s"scale must be positive, got $scale")
    // edge-data-derived one-partition test — see pageRank's note; in one
    // partition the src layout serves the hub step too
    val one = Layout.fitsOnePartition(edges0.sparkSession, Layout.planBytes(edges0))
    val pinned = pin(one) _
    val edgesS = materializedEdges(edges0, srcCol, dstCol, one)
    val edgesD = if (one) edgesS else edgesS.repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = pinned(edgesS.select(col("src").as("node"))
        .union(edgesS.select(col("dst").as("node")))
        .distinct())
      val n = nodes.count()
      require(n > 0, "hits on an empty graph")
      // the L∞ rescale computes raw * scale on Longs with raw ≤ n·scale
      // (raw sums ≤ n in-edge contributions of ≤ scale each), so
      // n·scale² must fit a Long — enforced, not just documented: past
      // the bound the multiply would wrap negative and silently corrupt
      // hub/auth scores
      require(n <= Long.MaxValue / scale / scale,
        s"hits: $n nodes at scale=$scale overflows the integer grid " +
          "(n*scale*scale > Long.MaxValue) — pass a smaller scale")
      var hubs = pinned(nodes.withColumn("hub_scaled", lit(scale)))
      // the first round derives auths from hubs alone — no initial auth
      // frame exists to materialize (or free)
      var auths: DataFrame = null
      for (_ <- 1 to iterations) {
        val nextAuth = normalizeStep(
          edgesS.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node"))
            .agg(sum(col("hub_scaled")).as("raw")),
          nodes, scale, "auth_scaled", pinned)
        if (auths != null) Ann.release(auths)
        auths = nextAuth
        val nextHub = normalizeStep(
          edgesD.join(auths.withColumnRenamed("node", "dst"), "dst")
            .groupBy(col("src").as("node"))
            .agg(sum(col("auth_scaled")).as("raw")),
          nodes, scale, "hub_scaled", pinned)
        Ann.release(hubs)
        hubs = nextHub
      }
      // every node has one hub and one auth row: their join is a sum
      // over the union (see sumByNode)
      val out = pinned(hubs.select(col("node"), col("hub_scaled"), lit(0L).as("auth_scaled"))
        .union(auths.select(col("node"), lit(0L).as("hub_scaled"), col("auth_scaled")))
        .groupBy("node")
        .agg(sum(col("hub_scaled")).as("hub_scaled"), sum(col("auth_scaled")).as("auth_scaled")))
      Ann.release(nodes); Ann.release(hubs); Ann.release(auths)
      out
    } finally { edgesD.unpersist(); releaseEdges(edgesS, one) }
  }

  /** [[prepEdges]] kept for a loop's many reads: persisted in their src
    * layout, or, when `one`, a lazy local checkpoint read in one partition
    * (filled by the first job that reads it; a cached adaptive plan would
    * materialize through jobs of its own and report no partitioning).
    */
  private def materializedEdges(
      edges0: DataFrame, srcCol: String, dstCol: String, one: Boolean): DataFrame = {
    val edges = prepEdges(edges0, srcCol, dstCol, one)
    if (one) Layout.onePartitionWhen(one)(edges.localCheckpoint(eager = false))
    else edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Free [[materializedEdges]]: the checkpoint's blocks, or the cache
    * (whose plan still holds the caller's lineage, which is not ours to
    * free). */
  private def releaseEdges(edges: DataFrame, one: Boolean): Unit =
    if (one) Ann.release(edges) else edges.unpersist()

  /** `df` checkpointed — flat lineage, blocks freed per round by
    * [[Ann.release]] — and, when `one` ([[Layout.fitsOnePartition]]),
    * read back in one partition: the checkpoint of an adaptive plan
    * reports unknown partitioning, so without the coalesce every keyed
    * consumer of a round's output would plan an Exchange again.
    */
  private def pin(one: Boolean)(df: DataFrame): DataFrame =
    Layout.onePartitionWhen(one)(df.localCheckpoint(true))

  /** Fill missing nodes with 0, L∞-normalize onto the grid, checkpoint
    * (`pinned`, see [[pin]]). The max is exact (no-in-edge nodes
    * contribute 0, never the max on a nonempty edge set since some
    * raw ≥ scale > 0).
    */
  private def normalizeStep(raw: DataFrame, nodes: DataFrame, scale: Long,
      outCol: String, pinned: DataFrame => DataFrame): DataFrame = {
    val filled = pinned(sumByNode(nodes.select(col("node"), lit(0L).as("v")),
      raw.select(col("node"), col("raw").as("v")), "raw"))
    val mx = math.max(1L, filled.agg(max(col("raw"))).head.getLong(0))
    val out = pinned(filled
      .select(col("node"), expr(s"(raw * $scale) div $mx").as(outCol)))
    Ann.release(filled)
    out
  }

  /** One PageRank/TrustRank round (pre-checkpoint) — factored out so the
    * plan shape of an iteration is auditable in isolation. `bases` carries
    * each node's teleport mass (uniform for PageRank, seed-only for
    * TrustRank); the in-mass adds to it through [[sumByNode]].
    */
  private[graft] def iterationStep(
      edges: DataFrame,
      bases: DataFrame,
      outdeg: DataFrame,
      ranks: DataFrame,
      dampingPct: Int): DataFrame = {
    val inMass = edges
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .join(outdeg, "src")
      .select(col("dst").as("node"),
        expr(s"($dampingPct * rank_scaled) div (100 * deg)").as("contrib"))
      .groupBy("node")
      .agg(sum(col("contrib")).as("in_mass"))
    sumByNode(bases.select(col("node"), col("base").as("v")),
      inMass.select(col("node"), col("in_mass").as("v")), "rank_scaled")
  }

  /** Per node of `all` (every node), the sum of its `v` over `all` and
    * `part` (a subset of the nodes) — a left join with a 0 default, as a
    * union and one aggregate. Two one-partition sides of a shuffle join
    * each get an Exchange (neither side's partitioning can be created
    * for the other), so under AQE the join costs two stage jobs that the
    * aggregate over their union does not: one partition in, one
    * partition out.
    */
  private def sumByNode(all: DataFrame, part: DataFrame, outCol: String): DataFrame =
    all.union(part).groupBy("node").agg(sum(col("v")).as(outCol))
}
