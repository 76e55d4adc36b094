package graft.operators

import graft.ops.Pins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph importance for data curation — the CommonCrawl-style "rank
  * domains/pages by the link structure, then prioritize high-rank sources"
  * signal (Page et al. 1999; used as a quality prior by crawl-based corpus
  * pipelines). Implemented as FIXED-POINT INTEGER PageRank: ranks live as
  * 64-bit integers in units of `1/scale`, every step is integer
  * multiply/divide, so K iterations produce BIT-IDENTICAL results on any
  * engine and any partitioning — float PageRank's order-dependent partial
  * sums can never cross an exact-hash gate, this can.
  */
object Graph {

  /** Weighted PageRank after exactly `iters` power iterations, all integer.
    *
    * Semantics (per iteration, damping d = dampNum/dampDen):
    *   contrib(edge e) = (rank(src) * w(e)) div wsum(src)
    *   rank'(n) = base + (dampNum * Σ_in contrib) div dampDen
    *              [+ (dampNum * danglingSum) div (dampDen * N) if
    *               `redistributeDangling`]
    * with base = (scale * (dampDen - dampNum)) div (dampDen * N) and
    * rank_0 = scale div N. Integer floor-division loses < 1 rank-unit per
    * term, so total mass drifts down by at most (E + N) units (= 1e-12-ish
    * at the default scale) per iteration — the deterministic price of
    * exactness; ordering is unaffected. With `redistributeDangling =
    * false` the mass of sink nodes (no out-edges) evaporates instead of
    * being spread uniformly — the naive-PageRank convention, still a
    * well-defined fixed spec (and the cross-engine-checkable one: the
    * uniform spread needs a second recursive reference SQL's WITH
    * RECURSIVE cannot express).
    *
    * Overflow bounds (document, not check): total mass ≤ scale, so
    * `dampNum * Σcontrib` ≤ dampNum * scale and `rank * w` ≤ scale *
    * max-weight must both stay under 2^63 — the defaults (scale 10^12,
    * damp 85/100) leave room for per-edge weights up to ~9·10^6.
    *
    * Scale shape: edges normalize ONCE into (src, dst, w, wsum) — a
    * src-keyed partial-agg shuffle — and are pinned so K iterations re-read
    * a materialized edge list, not the upstream lineage. Each iteration is
    * the classic distributed step: one src-keyed join (ranks are small
    * rows: node + long), one dst-keyed partial-agg sum, one left join back
    * onto the node list; the rank frame is pinned per iteration
    * (localCheckpoint) so the plan stays constant-size over K rounds — the
    * same discipline as [[Dedup.clusters]]. Nothing data-sized touches the
    * driver (one `count()` of the NODE table fixes N). On a 10^8-node
    * domain graph each iteration shuffles O(E) longs — exactly the shape a
    * 1000-executor cluster wants. */
  def pageRank(
      edges: DataFrame,
      iters: Int = 10,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      scale: Long = 1000000000000L,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: Option[String] = None,
      redistributeDangling: Boolean = false): DataFrame =
    powerIterate(edges, None, iters, dampNum, dampDen, scale, srcCol, dstCol,
      weightCol, redistributeDangling)

  /** PERSONALIZED PageRank (Jeh & Widom 2003's random-walk-with-restart
    * form) — [[pageRank]]'s seed-biased sibling: teleport mass returns
    * only to the SEED set, so scores read "importance AS SEEN FROM the
    * seeds" — crawl-frontier prioritization from trusted hosts,
    * related-entity expansion from a query node, TrustRank-style spam
    * demotion. Same fixed-point integer iterations as [[pageRank]]
    * (scores in 1/scale units, `div` integral division — bit-identical
    * to a recursive-CTE oracle): rank₀ = scale/|S| at seeds and 0
    * elsewhere; each round rank = [seed]·(scale·(1−d))/(d_den·|S|) +
    * d·Σ contrib. Dangling mass drains (the [[pageRank]]
    * `redistributeDangling = false` convention).
    *
    * Scale shape: identical to [[pageRank]] (one shared round); the seed
    * FLAG rides the pinned node list (one extra boolean), so
    * personalization costs nothing inside the loop. `seeds` is a frame,
    * not literals — at crawl scale the trusted set is itself a table. */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int = 10,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      scale: Long = 1000000000000L,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: Option[String] = None): DataFrame =
    powerIterate(edges, Some(seeds), iters, dampNum, dampDen, scale, srcCol,
      dstCol, weightCol, redistributeDangling = false)

  /** The round [[pageRank]] and [[personalizedPageRank]] share. The node
    * flag `__f` is seed membership when `seeds` is given, else "has an
    * out-edge" (the dangling test); the teleport set is the seeds, else
    * every node. */
  private def powerIterate(
      edges: DataFrame,
      seeds: Option[DataFrame],
      iters: Int,
      dampNum: Long,
      dampDen: Long,
      scale: Long,
      srcCol: String,
      dstCol: String,
      weightCol: Option[String],
      redistributeDangling: Boolean): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= num <= den: $dampNum/$dampDen")
    require(scale >= 1, s"scale must be >= 1: $scale")
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val e0 = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
      w.as("__w"))
    // one src-keyed agg for the normalizer, carried onto each edge row;
    // pinned: K iterations must re-read bytes, not re-run edge lineage
    val wsums = e0.groupBy("__src").agg(sum("__w").as("__wsum"))
    Pins.scope { pin =>
      val en = pin(e0.join(wsums, Seq("__src")))
      // nodes derive from the PINNED edge list, not from e0 (r18): the pin
      // materialization above already ran the whole upstream lineage once;
      // deriving nodes from e0 ran it a SECOND time in the nodes-pin job
      // (measured: q_textrank's interpreted pair-explode graph build was the
      // dominant cost, paid twice — ReuseExchange only dedups within one
      // job). Equivalent for non-null srcs; a null-src edge never joins
      // wsums (SQL null key), so en drops it — such edges now contribute
      // NO endpoints to the node list (before, their endpoints still
      // registered as rank-base-only nodes). Callers own null hygiene.
      // The flag rides the node list so the per-iteration dangling filter
      // and seed test cost nothing (no join inside the loop).
      val flagged = seeds.fold(en.select(col("__src").as("node")))(s =>
        s.select(col(s.columns.head).as("node")))
      val nodes = pin(en.select(col("__src").as("node"))
        .union(en.select(col("__dst").as("node")))
        .distinct()
        .join(flagged.distinct().withColumn("__f", lit(true)), Seq("node"), "left")
        .select(col("node").as("node"), coalesce(col("__f"), lit(false)).as("__f")))
      val nTele = seeds.fold(nodes.count())(_ => nodes.filter(col("__f")).count())
      require(nTele > 0,
        if (seeds.isEmpty) "graph has no nodes" else "no seed appears in the graph")
      val base = (scale * (dampDen - dampNum)) / (dampDen * nTele)
      val baseTerm =
        if (seeds.isEmpty) s"${base}L" else s"(CASE WHEN __f THEN ${base}L ELSE 0L END)"
      val rank0 =
        if (seeds.isEmpty) lit(scale / nTele)
        else when(col("__f"), lit(scale / nTele)).otherwise(lit(0L))
      // LAZY pins (r18): the loop needs no per-round driver value, so every
      // round's checkpoint is lazy and the WHOLE K-round chain materializes
      // inside ONE count job at scope exit — each round's blocks are stored
      // as its stages run and lineage truncates at materialization, so the
      // iterated plan stays constant-size, but the per-round eager
      // materialize-and-sync driver round trip is gone (measured r18: the
      // 5-node bench graph spent its whole cost on those round trips).
      // Integer arithmetic is partitioning/order-free, so results are
      // bit-identical to the eager form.
      // ZERO-STUB UNION (r18, the hits() round discipline): one
      // 0-contribution row per node rides the SAME groupBy exchange that
      // sums the real contributions — contribution-less nodes come out of
      // the aggregate at Σ=0 where the old shape paid a THIRD per-round
      // exchange (a left join back onto the node list) to re-attach them.
      // Long sums are exact, +0 is identity, and max() recovers the
      // per-node flag (each node contributes its flag exactly once, real
      // contribution rows carry null) ⇒ bit-identical ranks. Pinned with
      // fresh attribute ids (re-reading `nodes` per round would trip
      // DetectAmbiguousSelfJoin against the join's tagged references).
      val zeroStub = pin(nodes.select(col("node").as("node"), col("__f").as("__f"),
        lit(0L).as("__c")))
      var ranks = pin(nodes.select(col("node"), col("__f"), rank0.as("rank")),
        eager = false)
      for (_ <- 1 to iters) {
        // `div` (IntegralDivide), not `/`: Spark's `/` on longs is DOUBLE
        // division — one float would forfeit the bit-exactness contract
        val stepped = en.join(ranks, en("__src") === col("node"))
          .selectExpr("__dst AS node", "CAST(null AS boolean) AS __f",
            "rank * __w div __wsum AS __c")
          .unionByName(zeroStub)
          .groupBy("node")
          .agg(max(col("__f")).as("__f"), sum(col("__c")).as("__in"))
          .selectExpr("node", "__f",
            s"$baseTerm + (${dampNum}L * __in) div ${dampDen}L AS rank")
        val next =
          if (!redistributeDangling) stepped
          else {
            // sink mass, spread uniformly: one-row agg broadcast — reads the
            // PREVIOUS pinned ranks, so no second pass over anything large
            val dangling = ranks.filter(!col("__f"))
              .agg(coalesce(sum("rank"), lit(0L)).as("__dsum"))
            stepped.crossJoin(broadcast(dangling))
              .selectExpr("node", "__f",
                s"rank + (${dampNum}L * __dsum) div ${dampDen * nTele}L AS rank")
          }
        ranks = pin(next, eager = false)
      }
      ranks.select(col("node"), col("rank"))
    }
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) — the BIPARTITE-role
    * companion of [[pageRank]]: a page is a good AUTHORITY when good hubs
    * point at it, a good HUB when it points at good authorities. On a
    * crawl link graph the two roles separate directories/portals from
    * content pages — a prior PageRank's single score conflates.
    *
    * Fixed-point integer iterations (the [[pageRank]] discipline, so the
    * whole run is bit-identical to a recursive-CTE oracle): scores live
    * in `1/scale` units; each HALF-STEP pushes the current scores across
    * the edges (hub → authority along src→dst, authority → hub along
    * dst→src), then L1-normalizes by INTEGER division
    * `(raw · scale) div Σraw` — products ride DECIMAL(38,0) so a
    * raw·scale never overflows a long. 2·`iters` half-steps = `iters`
    * full mutual-reinforcement rounds; the classical l2 normalization is
    * replaced by l1 (same fixed point up to scale, integer-exact).
    *
    * Scale shape: per half-step ONE node-keyed edges×scores join (the
    * zero-stub union folds contribution-less nodes into the same
    * exchange) feeding a pinned ROLLUP that carries the per-node sums
    * AND the L1 normalizer total out of the SAME exchange — the 1-row
    * total broadcast is then a scan of the pin, never a re-execution of
    * the join (the dominant fixed cost on small graphs, measured); the
    * per-half-step pin keeps the iterated plan constant-size — the
    * [[Dedup.clusters]] loop discipline. Nothing data-sized on the
    * driver. */
  def hits(
      edges: DataFrame,
      iters: Int = 10,
      scale: Long = 1000000000000L,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(scale >= 1, s"scale must be >= 1: $scale")
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    Pins.scope { pin =>
      val e0 = pin(edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        w.as("__w")))
      val nodes = pin(e0.select(col("__src").as("node"))
        .union(e0.select(col("__dst").as("node")))
        .distinct())
      val n = nodes.count()
      require(n > 0, "graph has no nodes")
      // half-step: push `scores` across (frm -> tgt), L1-normalize in
      // integer units. A ZERO-STUB UNION (one 0-contribution row per node)
      // keeps contribution-less nodes at 0 through the SAME groupBy that
      // sums the real contributions — one exchange where a
      // groupBy-then-left-join-nodes shape costs two, and decimal sums are
      // exact so the extra zero term never changes a value. The stub is
      // pinned ONCE with fresh attribute ids: re-reading the `nodes`
      // dataset inside every round's plan trips DetectAmbiguousSelfJoin
      // against the join's Dataset-tagged column references.
      val zeroStub = pin(nodes
        .select(col("node").as("node"), lit(0L).cast("decimal(38,0)").as("__c")))
      // One half-step = ONE pinned ROLLUP: the per-node sums AND the L1
      // normalizer total come out of the same exchange (rollup adds the
      // grand-total grouping set — sum is associative on exact decimals,
      // so Σ__c ≡ Σ__raw bit-for-bit), and the normalize projection is
      // two cheap scans of the PIN — the 1-row total broadcast no longer
      // re-executes the contribution join (the r18 finding: those
      // broadcast-subquery recomputes, not tasks, dominated the 5-node
      // bench cost). Returns the normalized scores view of the pin.
      def halfStep(scores: DataFrame, frm: String, tgt: String): DataFrame = {
        // unresolved col("node") (unique by name: e0 carries only __src/
        // __dst/__w) — a Dataset-tagged scores("node") false-positives
        // DetectAmbiguousSelfJoin once the pinned-normalized view is fed
        // back through the loop
        val contrib = e0.join(scores, e0(s"__$frm") === col("node"))
          .select(col(s"__$tgt").as("node"),
            (col("score").cast("decimal(38,0)") * col("__w")).as("__c"))
        // rollup over the UNTAGGED col("node"): the String overload resolves
        // through Dataset.col, whose __dataset_id metadata false-positives
        // DetectAmbiguousSelfJoin against the Expand's re-aliased grouping
        // attribute
        val rolled = pin(contrib
          .union(zeroStub)
          .rollup(col("node"))
          .agg(sum("__c").cast("decimal(38,0)").as("__raw"),
            grouping_id().cast("int").as("__g")))
        // the normalizer is 1-row BOUNDED METADATA off the already-pinned
        // rollup (the codebook/argmax collect class) — inlined as a decimal
        // literal, so the loop runs ZERO broadcast subqueries. (r18 probe:
        // a lazy-chain variant with the normalizer as an in-plan broadcast
        // of the pin measured 51 s vs 2.9 s — 2·iters nested broadcast
        // levels re-plan and recompute deep lineage during stage planning;
        // the eager pin + driver head() is the measured optimum here.)
        val tot = rolled.filter(col("__g") === 1)
          .select(col("__raw")).head().getDecimal(0)
        rolled.filter(col("__g") === 0)
          .selectExpr("node",
            s"(__raw * ${scale}L) div CAST('${tot.toPlainString}' " +
              "AS DECIMAL(38,0)) AS score")
      }
      // explicit alias: the init pin must NOT reuse `nodes`' attribute ids —
      // the zero-stub union re-reads `nodes`, and a shared id across the
      // join and union branches trips DetectAmbiguousSelfJoin
      var hubs = pin(nodes.select(col("node").as("node"), lit(scale / n).as("score")))
      var auths: DataFrame = null
      for (_ <- 1 to iters) {
        auths = halfStep(hubs, "src", "dst")
        hubs = halfStep(auths, "dst", "src")
        pin.retain(e0, nodes, zeroStub, hubs, auths)
      }
      hubs.select(col("node"), col("score").as("hub"))
        .join(auths.select(col("node"), col("score").as("auth")), Seq("node"))
    }
  }

  /** Exact triangle count of an undirected graph, by DEGREE-ORDERED
    * ORIENTATION (Chiba–Nishizeki / the MapReduce "MGT" form): canonicalize
    * edges to (u < v) distinct pairs, orient every edge from its
    * lower-(degree, id) endpoint to the higher, generate wedges only from
    * each node's OUT-neighbors, and close them against the oriented edge
    * list. Returns ONE row: (n_nodes, n_edges, n_triangles) — all exact
    * 64-bit integers, engine-checkable against a naive three-way SQL join.
    *
    * Why orientation is the 100 TB shape: naive wedge generation is
    * Σ_v deg(v)² — a single celebrity node with deg 10⁷ yields 10¹⁴
    * wedges. Ordering by (degree, id) bounds every out-degree by
    * O(√m), so the wedge count is O(m^{3/2}) REGARDLESS of skew — the
    * classic bound, and the entire reason this is not three self-joins.
    *
    * Plan: canonical distinct (one shuffle), a degree agg over the
    * endpoint union (partial-agg shuffle of (node, 1) rows), two keyed
    * joins to attach endpoint degrees, then the wedge self-join (keyed by
    * apex) and the closing join (keyed by the wedge's far pair). Every
    * join is on narrow long-pair rows; nothing touches the driver but the
    * final three counters. The oriented edge list is pinned
    * (localCheckpoint) because BOTH sides of the wedge join and the
    * closing probe re-read it — three traversals of one materialization,
    * not three runs of the upstream lineage. */
  def triangleCount(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      edgesCanonical: Boolean = false): DataFrame = {
    // pinned: the canonical distinct is the expensive base (the edge
    // dedup shuffle over whatever generated the pairs) and FOUR consumers
    // re-read it — the degree agg, the orientation join, and the edge /
    // node counters; without the pin each counter re-runs the upstream
    // pair generation. `edgesCanonical` lets a producer that already
    // emits distinct (u < v) pairs ([[coOccurrenceEdges]]) skip a second
    // full-edge dedup exchange.
    val raw = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull)
    Pins.scope { pin =>
      val canon = pin(if (edgesCanonical) raw else raw.distinct())
      val deg = canon.select(col("u").as("node"))
        .union(canon.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      // orient: from the endpoint with the smaller (deg, id) — total order,
      // so every undirected edge appears exactly once as (a -> b)
      val ku = struct(col("__du").as("d"), col("u").as("n"))
      val kv = struct(col("__dv").as("d"), col("v").as("n"))
      val oriented = pin(canon
        .join(deg.select(col("node").as("u"), col("deg").as("__du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("deg").as("__dv")), Seq("v"))
        .select(
          when(ku < kv, col("u")).otherwise(col("v")).as("a"),
          when(ku < kv, col("v")).otherwise(col("u")).as("b")))
      // compact-forward close: triangles = Σ_{(a,b)} |N⁺(a) ∩ N⁺(b)| over
      // oriented edges — each triangle's two lowest-ordered vertices a < b
      // both point at its apex, so it is counted exactly once, at its
      // lowest-ordered edge. This beats the explicit wedge self-join
      // (Σ outdeg² rows through an exchange, then a semi-join probe per
      // wedge): here the exchange carries one row PER EDGE with two
      // adjacency arrays, each bounded at O(√m) elements by the
      // orientation — the same total long count packed into ~outdeg×
      // fewer rows, no per-wedge hash probe, and the intersection runs as
      // a tight array op inside codegen.
      val adj = oriented.groupBy(col("a"))
        .agg(sort_array(collect_list(col("b"))).as("nbrs"))
      val closed = oriented.select(col("a"), col("b"))
        .join(adj, Seq("a")) // same 'a' keying as the adj build — no extra exchange
        .select(col("b"), col("nbrs").as("na"))
        // an edge whose head has no out-neighbors closes nothing: the
        // inner join dropping it IS the zero contribution
        .join(adj.select(col("a").as("b"), col("nbrs").as("nb")), Seq("b"))
        // native two-pointer merge over the sorted adjacency arrays — the
        // per-edge hot op; size(array_intersect(...)) builds a hash set and
        // an output array per edge only to take its length. Long ids get
        // the native expression; any other id type falls back to the HOF.
        .select((oriented.schema("b").dataType match {
          case org.apache.spark.sql.types.LongType =>
            graft.functions.VectorFunctions.sortedIntersectCount(col("na"), col("nb"))
          case _ => size(array_intersect(col("na"), col("nb"))).cast("long")
        }).as("t"))
      val nN = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
      val nE = canon.agg(count(lit(1)).cast("long").as("n_edges"))
      val nT = closed.agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
      nN.crossJoin(broadcast(nE)).crossJoin(broadcast(nT))
    }
  }

  /** k-CORE decomposition by iterative peeling: repeatedly delete every
    * node whose degree in the CURRENT subgraph is < k until none remains,
    * returning the surviving nodes with their in-core degree — the
    * standard "dense cohesive subgraph" extraction (Seidman 1983; the
    * spam-farm / dense-community filter crawl pipelines run on link
    * graphs). Peeling is confluent: the fixed point is unique regardless
    * of deletion order, so any engine converging the same rule returns
    * the identical core — what makes an iterative graph operator
    * hash-gateable at all.
    *
    * `maxRounds` caps the loop (the gate sets it above the measured
    * convergence depth). A cap-truncated run returns the partially peeled
    * superset of the true core — monotone, never invents nodes — and is
    * detectable: a `__converged` count is logged per round. Because each
    * round only FILTERS, running extra rounds past the fixed point is a
    * no-op, so a fixed-round reference (chained SQL peels) equals the
    * converged answer whenever rounds ≥ convergence depth.
    *
    * Scale shape: the same loop discipline as [[pageRank]] /
    * `Dedup.clusters` — the live edge set is pinned per round
    * (localCheckpoint keeps the iterated plan constant-size), each round
    * is one (node, 1) partial-agg degree shuffle + one broadcast-or-keyed
    * semi-join of edges against surviving nodes; the only driver values
    * are the per-round dropped-node COUNT (the convergence test). Work is
    * O(live edges) per round and strictly shrinking. */
  def kCore(
      edges: DataFrame,
      k: Int,
      maxRounds: Int = 30,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val raw = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    Pins.scope { pin =>
      var live = pin(raw)
      var prev = live.count() // one edge COUNT per round is all the driver sees
      var round = 0
      var done = prev == 0L
      while (round < maxRounds && !done) {
        round += 1
        val deg = live.select(col("u").as("node"))
          .union(live.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        // pinned: node-sized, and BOTH semi-joins consume it — unpinned,
        // each would re-run the edge-sized degree aggregation
        // LAZY pins: keep and next materialize inside the round's single
        // count job (keep's blocks shared by both semi-joins through the
        // block manager; lineage truncates after materialization) — one job
        // per round instead of three
        val keep = pin(deg.where(col("deg") >= k).select(col("node")), eager = false)
        live = pin(live
          .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi"),
          eager = false)
        val after = live.count()
        done = after == prev
        prev = after
        pin.retain(live)
      }
      live.select(col("u").as("node"))
        .union(live.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("core_deg"))
    }
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007),
    * made DETERMINISTIC: labels start as node ids; each round every node
    * adopts the label that is most frequent among its NEIGHBORS, ties to
    * the smallest label — no randomized visit order, so the result is a
    * pure function of (graph, rounds) and cross-engine checkable.
    * Synchronous updates can oscillate on bipartite structures, which is
    * why `rounds` is part of the SPEC (fixed-iteration semantics, the
    * [[pageRank]] convention) rather than a convergence loop.
    *
    * The argmax is min_by over (−count, label): counts are always positive
    * bigints so the negation is safe, and the label side is compared
    * as-is — node ids of ANY orderable type (string urls, ints, longs)
    * tie-break deterministically, where negating the label itself would
    * have silently nulled out on non-numeric ids.
    *
    * Scale shape: per round ONE (node, label) partial-agg count shuffle
    * + ONE node-keyed argmax agg (max_by — no window sort), against the
    * pinned direction-doubled edge list; labels are (node, long) rows.
    * Work is O(edges) per round, the standard distributed LPA step. */
  def labelPropagation(
      edges: DataFrame,
      rounds: Int = 3,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    Pins.scope { pin =>
      val ends = pin(canon.select(col("u").as("node"), col("v").as("o"))
        .union(canon.select(col("v").as("node"), col("u").as("o"))))
      var labels = pin(ends.select(col("node")).distinct()
        .select(col("node"), col("node").as("label")))
      for (_ <- 1 to rounds) {
        // LAZY pin: rounds are fixed (no per-round action), so one count
        // at scope exit materializes the short chain; lineage still
        // truncates per round instead of nesting the full join tree
        labels = pin(ends
          .join(labels.select(col("node").as("o"), col("label")), Seq("o"))
          .groupBy(col("node"), col("label"))
          .agg(count(lit(1)).as("__c"))
          .groupBy(col("node"))
          .agg(min_by(col("label"),
            struct((-col("__c")).as("__negc"), col("label"))).as("label")),
          eager = false)
      }
      labels
    }
  }

  /** Co-occurrence edge list from a grouped id column: all distinct
    * unordered (u < v) pairs of `idCol` values sharing a `groupCol` value
    * — e.g. parts co-purchased in one order. Pair generation is SCAN-LOCAL
    * per group (sorted distinct array, then an explode of each element
    * against its strict successors), so cost is Σ|group|² — callers own
    * the bound that groups are small (order baskets, sessions), the same
    * contract as [[graft.operators.Curation.collocations]]. */
  def coOccurrenceEdges(
      df: DataFrame,
      groupCol: String,
      idCol: String): DataFrame = {
    // strict successors of position i in a SORTED DISTINCT array are
    // exactly the suffix from i+1 — slice (codegen) instead of the
    // per-element filter HOF, which paid a lambda frame + fresh array
    // per element per group (r18; same pairs in the same order)
    df.groupBy(col(groupCol))
      .agg(sort_array(collect_set(col(idCol))).as("__ids"))
      .where(size(col("__ids")) >= 2)
      .select(posexplode(col("__ids")).as(Seq("__i", "src")), col("__ids"))
      .select(col("src"),
        explode(slice(col("__ids"), col("__i") + 2, size(col("__ids"))))
          .as("dst"))
      .distinct()
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): run
    * [[pageRank]] over the word co-occurrence graph — an undirected edge
    * between every pair of tokens within `window` positions of each
    * other, weighted by corpus-wide co-occurrence count — and read the
    * top-`topK` words by rank. Inherits pageRank's all-integer iteration,
    * so the whole extraction replays exactly in a recursive SQL oracle.
    *
    * Scale shape: pair generation is a per-row HOF expression (window ·
    * len pairs per doc, no join), collapsing scan-locally into the
    * (x, y, w) vocabulary-sized edge list via one partial agg; the
    * undirected edge list symmetrizes by a cheap union (edges are vocab²
    * at worst, vanishing next to the corpus); iterations are pageRank's
    * pinned per-round joins. `(rank desc, word)` makes the top-k cut a
    * deterministic total order. Self-pairs (a repeated word inside the
    * window) are dropped — a self-loop only feeds rank back to itself. */
  def textRank(
      docs: DataFrame,
      window: Int = 2,
      iters: Int = 10,
      topK: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(topK >= 1, s"topK must be >= 1: $topK")
    val ts = col("ts")
    // Native WindowedPairs (r18) — the composed reference it replicates
    // pair-for-pair in the same (i asc, j asc) order (kept for the
    // record): explode(flatten(transform(sequence(0, n−2), i =>
    // transform(sequence(i+1, least(i+window, n−1)), j =>
    // struct(ts[i+1] a, ts[j+1] b))))). The HOF ran interpreted — two
    // nested lambda frames + a struct alloc per pair — the whole
    // graph-build scan cost.
    val pairs = docs
      .select(graft.functions.TextFunctions.tokens(col(textCol)).as("ts"))
      .filter(size(ts) >= 2)
      .select(explode(org.apache.spark.sql.GraftExpr.column(
        graft.functions.WindowedPairs(
          org.apache.spark.sql.GraftExpr.expression(ts), window))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val und = pairs
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("w"))
    val sym = und.select(col("x").as("src"), col("y").as("dst"), col("w"))
      .unionAll(und.select(col("y").as("src"), col("x").as("dst"), col("w")))
    pageRank(sym, iters = iters, weightCol = Some("w"))
      .orderBy(col("rank").desc, col("node").asc)
      .limit(topK)
      .select(col("node").as("word"), col("rank"))
  }
}
