package graft.queries

import graft.Tables
import graft.operators.Scale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Qutil._

/** SURVEY §2.12 extension — graph centrality over entity relationships.
  * The reference's migration domain (/root/reference/README.md:3) is an
  * entity graph (accounts, contacts, orders); ranking entities by
  * relationship centrality is the standard "which records matter most"
  * signal for migration triage and, in the B-mandate's curation setting,
  * for weighting interconnected sources.
  *
  * PageRank here is FULLY INTEGER, so both engines and any partition
  * order derive bit-identical ranks — no floating-point mass vector:
  *  - ranks live in micro-units (1e6 = 1.0), seeded uniform;
  *  - a node's per-edge contribution is `r DIV deg` (integer floor
  *    division — Spark DIV == DuckDB //);
  *  - damping 0.85 is the exact rational 17/20: `150000 + (17*sum) DIV 20`.
  * Floor losses make this a deterministic *variant* of PageRank (mass
  * leaks ~deg/2 micro-units per node per round), which is irrelevant for
  * ranking and exactly reproducible everywhere — the same trade
  * embed_kmeans makes with integer-moment centroids.
  *
  * 100 TB shape: the classic Pregel-as-DataFrame loop. Edges + degrees
  * are computed once and materialized via Scale.materialize — the r14
  * seam: localCheckpoint locally, RELIABLE checkpoint() under
  * graft.materialize=reliable on a cluster (reused all rounds; truncated
  * lineage); each round is ONE shuffle join (ranks into edges on src) and
  * ONE partial-aggregable groupBy(dst) — contributions combine map-side.
  * Zero driver-side data movement (no collect anywhere); a fixed round
  * count bounds the plan. On a real cluster you'd pre-range-partition
  * edges by src so every round's join co-locates. */
object GraphQueries {

  private val iters = 3

  /** Undirected supplier<->customer co-transaction edges. Node ids embed
    * the entity kind in the low bit (supplier = 2k, customer = 2k+1) so
    * one BIGINT key spans both id spaces collision-free. The reverse
    * direction is a disjoint set (opposite parity), so UNION needs no
    * re-distinct. */
  private def edges(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
      .distinct()
      // checkpoint the distinct pair set ONCE: the self-union below plus
      // the degree and edge-join consumers would otherwise each re-run
      // the lineitem-orders join + distinct (measured at sf0.1: the graph
      // build was ~11 s of the query's ~12 s with that recompute, ~2 s
      // less with it checkpointed; the 3 rank rounds are ~free)
      .transform(Scale.materialize)
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  val queries: Map[String, Q] = Map(
    // Top-20 entities by 3-round integer PageRank over the co-transaction
    // graph; ties cut on node id for a deterministic LIMIT.
    "graph_pagerank" -> ((s, d) => {
      val e = edges(s, d)
      val deg = e.groupBy("src").agg(count(lit(1)).as("dg"))
      // Checkpoint the degree-annotated edge list once (reused by all
      // rounds). NOTE a pre-repartition(src) before the checkpoint does
      // NOT survive it (the LogicalRDD comes back with Unknown
      // partitioning under AQE; plan_audit.tsv counts the exchanges),
      // so each round shuffles both join sides on the key; on a real
      // cluster the edge side would be BUCKETED by src at land time to
      // make rounds edge-stationary.
      val ed = e.join(deg, "src").transform(Scale.materialize)
      var rank = deg.select(col("src").as("id"), lit(1000000L).as("r"))
      // A FIXED small round count needs no per-round checkpoint (unlike
      // Scale.connectedComponents, which runs an action per round): the
      // three rounds chain lazily into ONE job over the checkpointed edge
      // blocks, each round one shuffle join + one map-side-combined agg.
      for (_ <- 1 to iters) {
        rank = ed.join(rank, ed("src") === rank("id"))
          .select(col("dst"), expr("r DIV dg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("cs"))
          .select(col("dst").as("id"), expr("150000 + (17 * cs) DIV 20").as("r"))
      }
      rank.orderBy(col("r").desc, col("id")).limit(20)
        .select(col("id").as("node"),
          when(col("id") % 2 === 0, lit("supplier")).otherwise(lit("customer")).as("kind"),
          expr("id DIV 2").as("entity_key"), col("r").as("pr"))
        .orderBy(col("pr").desc, col("node"))
    }),

    // Multi-source BFS (r6f) — min-hop distance from a seed set (every
    // 7th supplier — scale-proportional and non-empty at all SFs) over the co-transaction graph, the shortest-path member
    // of the graph family (pagerank ranks, LPA clusters, CC merges; BFS
    // answers "how far is everything from these records"). Pure integer
    // state: dist starts 0 at seeds and relaxes min(d_u + 1) per round;
    // after k synchronous rounds every node within k hops carries its
    // EXACT min distance (BFS layer induction), so a fixed 3-round loop
    // is a complete <= 3-hop profile — deterministic on both engines, no
    // FP anywhere. Each round is ONE shuffle join (dist into the
    // checkpointed edge set) + one partial-aggregable min groupBy; rounds
    // chain lazily into a single job (the graph_pagerank shape). The
    // emission is the bounded per-distance census, not the node list.
    "graph_bfs_dist" -> ((s, d) => {
      val e = edges(s, d)
      val seeds = Tables.supplier(s, d).where(col("s_suppkey") % 7 === 0)
        .select((col("s_suppkey") * 2).as("id"))
      var dist = seeds.select(col("id"), lit(0L).as("dst_d"))
      for (_ <- 1 to iters) {
        val nxt = e.join(dist, e("src") === dist("id"))
          .select(col("dst").as("id"), (col("dst_d") + 1).as("dst_d"))
        dist = dist.union(nxt).groupBy("id").agg(min("dst_d").as("dst_d"))
      }
      dist.groupBy(col("dst_d").as("d"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("id") % 2 === 0, 1L).otherwise(0L)).as("n_suppliers"),
          sum(when(col("id") % 2 === 1, 1L).otherwise(0L)).as("n_customers"),
          min("id").as("min_node"), max("id").as("max_node"))
        .orderBy("d")
    }),

    // HITS hub/authority centrality (r9c) — the OTHER classic centrality
    // next to graph_pagerank, and the one that actually fits a BIPARTITE
    // graph: on supplier->customer directed edges, a supplier is a good
    // HUB if it serves good customers and a customer a good AUTHORITY if
    // it buys from good hubs (mutual reinforcement — Kleinberg's a = Aᵀh,
    // h = Aa). Fully integer like pagerank so both engines replay
    // bit-identically: scores in micro-units, and the per-round
    // normalization (textbook HITS normalizes each vector or it diverges)
    // is an integer max-normalize x' = (x·1e6) DIV max — the
    // cross-multiplication runs in DECIMAL(38,0) (HUGEINT in the oracle)
    // so it cannot overflow at any degree scale (the ks/emd rule), and
    // DIV on nonneg == DuckDB //. Scale shape: the directed edge set is
    // computed once and checkpointed; each round is TWO shuffle joins +
    // TWO partial-aggregable groupBys + two BOUNDED keys=[] scalar maxes
    // broadcast back (the PlanGuard-blessed shape); rounds chain lazily
    // into one job (the pagerank/BFS loop). The last-round authority
    // frame is checkpointed once — it feeds BOTH the final hub round and
    // its own top-12 emission (the multi-consumer rule).
    "graph_hits" -> ((s, d) => {
      val e = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
        .distinct()
        .transform(Scale.materialize)
      var hub = e.select(col("sk")).distinct().withColumn("h", lit(1000000L))
      var auth: DataFrame = null
      // UNLIKE the pagerank loop (whose rounds chain lazily into one
      // job), each HITS round's scalar max is BROADCAST back — the
      // broadcast evaluates the round's chain separately from the next
      // round's main plan, so an uncheckpointed chain re-runs every
      // prior round O(rounds²) times (measured ~1.5 s of the query's
      // ~10 s smoke at sf0.1; grows with rounds). Per-round localCheckpoint
      // (the Scale.connectedComponents pattern) materializes each
      // node-sized frame exactly once; it also serves the last-round
      // authority frame's two consumers.
      for (k <- 1 to iters) {
        val ar = e.join(hub, "sk").groupBy("ck").agg(sum("h").as("ar"))
        val ma = ar.agg(max("ar").as("m"))
        auth = ar.crossJoin(broadcast(ma))
          .select(col("ck"),
            expr("CAST((CAST(ar AS DECIMAL(38,0)) * 1000000) DIV m AS BIGINT)").as("a"))
          .transform(Scale.materialize)
        val hr = e.join(auth, "ck").groupBy("sk").agg(sum("a").as("hr"))
        val mh = hr.agg(max("hr").as("m"))
        hub = hr.crossJoin(broadcast(mh))
          .select(col("sk"),
            expr("CAST((CAST(hr AS DECIMAL(38,0)) * 1000000) DIV m AS BIGINT)").as("h"))
          .transform(Scale.materialize)
      }
      hub.orderBy(col("h").desc, col("sk")).limit(12)
        .select(lit("hub").as("kind"), col("sk").as("entity_key"), col("h").as("score"))
        .union(auth.orderBy(col("a").desc, col("ck")).limit(12)
          .select(lit("authority").as("kind"), col("ck").as("entity_key"), col("a").as("score")))
        .orderBy(col("kind"), col("score").desc, col("entity_key"))
    }),

    // Katz centrality (r11) — the WALK-COUNTING centrality next to
    // pagerank's random-surfer one: k(v) = Σ_h α^h · (#walks of length h
    // ending at v), computed by the fixed-point k' = 1 + α·Σ_{u→v} k(u).
    // Unlike pagerank there is NO degree normalization — a hub's full
    // score propagates, so Katz rewards being near high-degree nodes
    // while pagerank splits a node's vote. Fully integer like pagerank:
    // scores in micro-units, attenuation α = 1/8 exact (integer DIV 8,
    // Spark DIV == DuckDB // on nonneg), seed 1e6. Per-round sums run in
    // DECIMAL(38,0) (HUGEINT in the oracle — the ks/emd rule) so the
    // aggregation cannot overflow; the BIGINT cast-back of the per-round
    // score is safe through max-degree ~1e5 (k3 <= 1e6·(D/8)^3 ~ 2e18)
    // and ANSI-loud beyond, never silent. Scale shape: the pagerank loop
    // exactly — checkpointed edge set, each round one shuffle join + one
    // partial-aggregable groupBy, three rounds chained lazily into one
    // job, top-20 TakeOrdered emission.
    "graph_katz" -> ((s, d) => {
      val e = edges(s, d)
      var k = e.select(col("src").as("id")).distinct()
        .withColumn("k", lit(1000000L))
      for (_ <- 1 to iters) {
        k = e.join(k, e("src") === k("id"))
          .groupBy(col("dst"))
          .agg(expr("1000000 + SUM(CAST(k AS DECIMAL(38,0))) DIV 8").as("k"))
          .select(col("dst").as("id"), col("k"))
      }
      k.orderBy(col("k").desc, col("id")).limit(20)
        .select(col("id").as("node"),
          when(col("id") % 2 === 0, lit("supplier")).otherwise(lit("customer")).as("kind"),
          expr("id DIV 2").as("entity_key"), col("k").as("katz"))
        .orderBy(col("katz").desc, col("node"))
    }),

    // Personalized PageRank (r12) — the SEEDED member of the centrality
    // family: teleport mass returns only to a seed set (every 7th node
    // id — the graph_bfs_dist convention: scale-proportional, non-empty
    // at all SFs), so scores measure proximity to the seeds rather than
    // global importance — the "expand from these known-good records"
    // primitive (seed-set expansion for curation: start from trusted
    // docs/accounts, rank the rest by random-walk reachability).
    // Identical integer recipe to graph_pagerank (micro-units,
    // contribution r DIV dg, damping 17/20) with the teleport term
    // seed-gated: r' = 150000·1{seed} + (17·Σ) DIV 20; non-seed nodes
    // far from any seed decay to 0 and are filtered (r > 0 keeps the
    // reachable frontier, making the top-20 a real proximity ranking).
    // Scale shape: the pagerank loop — checkpointed degree-annotated
    // edges, each round ONE shuffle join + ONE partial-aggregable
    // groupBy + the node-frame left join (the full node set must
    // re-enter each round or zero-contribution seeds vanish), rounds
    // chained lazily into one job, TakeOrdered emission.
    "graph_ppr" -> ((s, d) => {
      val e = edges(s, d)
      val deg = e.groupBy("src").agg(count(lit(1)).as("dg"))
      val ed = e.join(deg, "src").transform(Scale.materialize)
      // symmetric edge set ⇒ every node appears as src
      val nodes = e.select(col("src").as("id")).distinct().transform(Scale.materialize)
      var rank = nodes.selectExpr("id",
        "CAST(CASE WHEN id % 7 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS r")
      for (_ <- 1 to iters) {
        val cs = ed.join(rank, ed("src") === rank("id"))
          .select(col("dst"), expr("r DIV dg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("cs"))
        rank = nodes.as("n").join(cs.as("c"), col("n.id") === col("c.dst"), "left")
          .selectExpr("n.id AS id",
            "CAST(CASE WHEN n.id % 7 = 0 THEN 150000 ELSE 0 END " +
              "+ (17 * coalesce(c.cs, 0L)) DIV 20 AS BIGINT) AS r")
      }
      rank.where(col("r") > 0).orderBy(col("r").desc, col("id")).limit(20)
        .select(col("id").as("node"),
          when(col("id") % 2 === 0, lit("supplier")).otherwise(lit("customer")).as("kind"),
          expr("id DIV 2").as("entity_key"),
          (col("id") % 7 === 0).as("is_seed"), col("r").as("ppr"))
        .orderBy(col("ppr").desc, col("node"))
    }),

    // Degree distribution of the same graph, split by entity kind — the
    // skew diagnostic you run BEFORE choosing a join/partition strategy
    // (a heavy-tailed histogram is the signal to salt or bucket). Two
    // key-grouped aggregates; output bounded by the distinct-degree count.
    "graph_degree_hist" -> ((s, d) => {
      val deg = edges(s, d).groupBy("src").agg(count(lit(1)).as("deg"))
      deg.groupBy("deg")
        .agg(sum(when(col("src") % 2 === 0, 1L).otherwise(0L)).as("n_suppliers"),
          sum(when(col("src") % 2 === 1, 1L).otherwise(0L)).as("n_customers"))
        .orderBy("deg")
    }),

    // Connected-components census (r9) — the CC operator DECLARED on a
    // graph-family graph (it powers every dedup_cluster_* query; here
    // it censuses the co-purchase graph's component structure): nodes =
    // all basketed parts (singletons count), edges = the SHARED
    // supportedPairs frame (one pair/threshold definition with affinity
    // and triangles). Scale.connectedComponents labels a graph within
    // its localCap on the driver and runs the O(log n) large-star/
    // small-star rounds above it, so a co-purchase graph's missing
    // diameter bound costs no extra rounds; the declared output is the
    // component-SIZE histogram (the number that says whether the graph
    // is one giant component or fragments). Oracle: the same
    // recursive-closure shape as dedup_cluster_cc over the mirrored
    // basketCteSql pair set.
    "graph_components" -> ((s, d) => {
      val p = basketItems(s, d)
      val cc = graft.operators.Scale.connectedComponents(
        p.select(col("pk").as("id")).distinct(),
        supportedPairs(p).select(col("p1").as("src"), col("p2").as("dst")))
      cc.groupBy("cluster").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_components"))
        .orderBy("csize")
    }),

    // Market-basket affinity (r6): co-purchase pairs with support >= 2
    // and lift — association mining's first pass. Pair generation is the
    // within-basket self-join on the ORDER key: pairs per basket are
    // C(k,2) with k bounded by lines-per-order (<= 11 in the fixtures,
    // small everywhere), so the blow-up is group-bounded, never
    // corpus-quadratic. The support threshold then prunes ~1.2M distinct
    // pairs to ~3.6k (sf0.1) BEFORE the item-support joins; lift is one
    // fixed-order double expression off exact integer counts (r6 rule).
    "graph_basket_affinity" -> ((s, d) => {
      val p = basketItems(s, d)
      val isup = p.groupBy(col("pk")).agg(count(lit(1)).as("s"))
      val n = p.agg(count_distinct(col("ok")).as("n_baskets"))
      supportedPairs(p)
        .join(isup.select(col("pk").as("p1"), col("s").as("s1")), "p1")
        .join(isup.select(col("pk").as("p2"), col("s").as("s2")), "p2")
        .crossJoin(broadcast(n))
        .select(col("p1"), col("p2"), col("sup"), col("s1"), col("s2"),
          r6(col("sup").cast("double") * col("n_baskets").cast("double") /
            (col("s1").cast("double") * col("s2").cast("double"))).as("lift"))
        .orderBy("p1", "p2")
    }),

    // Triangle enumeration (r6) over the SUPPORTED co-purchase graph:
    // stable part triples that pairwise co-occur in >= 2 baskets each.
    // The p1 < p2 edge invariant makes every triangle appear exactly once
    // as a < b < c (no orientation dedup needed): wedge join on the
    // middle vertex + closing-edge equality join. Scale posture: the
    // support threshold bounds the edge set; at production scale the
    // standard refinement is to re-orient each edge low-degree ->
    // high-degree first so the wedge join fans out from the sparse end.
    "graph_triangles" -> ((s, d) => {
      val e = supportedPairs(basketItems(s, d)).select("p1", "p2")
      e.select(col("p1").as("a"), col("p2").as("b"))
        .join(e.select(col("p1").as("b2"), col("p2").as("c")),
          col("b") === col("b2"))
        .join(e.select(col("p1").as("a3"), col("p2").as("c3")),
          col("a3") === col("a") && col("c3") === col("c"))
        .select(col("a"), col("b"), col("c"))
        .orderBy("a", "b", "c")
    }),

    // Local clustering coefficient (r6g) — per-node 2·tri/(deg·(deg−1))
    // over the SAME supported co-purchase graph graph_triangles
    // enumerates (one shared pair/threshold definition, so census and
    // coefficient can never disagree on the edge set). The transitivity
    // gauge next to graph_modularity's partition score: high coefficient
    // = neighborhoods close into cliques (dense affinity cores), low =
    // star/bridge structure. All-integer until the ONE shared-formula
    // division: degrees from the symmetrized pair list (opposite-parity
    // union — no re-distinct needed since p1 < p2), per-node triangle
    // counts from the ordered a<b<c enumeration EXPLODED into its three
    // corners in one pass (one consumer of the triangle join, not
    // three). The pair frame is checkpointed once (degree + three join
    // consumers — the multi-consumer rule).
    "graph_clustering_coeff" -> ((s, d) => {
      val e = supportedPairs(basketItems(s, d)).select("p1", "p2")
        .transform(Scale.materialize)
      val deg = e.select(col("p1").as("node"))
        .union(e.select(col("p2").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val tri = e.select(col("p1").as("a"), col("p2").as("b"))
        .join(e.select(col("p1").as("b2"), col("p2").as("c")),
          col("b") === col("b2"))
        .join(e.select(col("p1").as("a3"), col("p2").as("c3")),
          col("a3") === col("a") && col("c3") === col("c"))
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("tri"))
      deg.join(tri, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"))
        .selectExpr("node", "deg", "tri", s"$ccF AS coeff")
        .orderBy("node")
    }),

    // Label-propagation communities (r6d) — the OTHER graph-clustering
    // family next to connected components (CC merges anything touching;
    // LPA follows neighborhood MAJORITY, so dense cores separate from
    // bridges). Fully deterministic where textbook LPA is not: seeds are
    // node ids, rounds are SYNCHRONOUS (every round reads only the
    // previous round's labels — no update-order dependence), and the
    // majority vote breaks ties by SMALLER label via one min-struct
    // argmax aggregate ((-cnt, lbl) — the agg_mode shape). Integer-only
    // state, so both engines replay bit-identically. Each of the 3 fixed
    // rounds is ONE shuffle join (labels into the checkpointed edge set)
    // + TWO partial-aggregable groupBys; rounds chain lazily into one
    // job like graph_pagerank. Output is the bounded community summary.
    "graph_label_prop" -> ((s, d) => {
      val e = edges(s, d)
      lpaLabels(e).groupBy("lbl")
        .agg(count(lit(1)).as("comm_size"),
          sum(when(col("id") % 2 === 0, 1L).otherwise(0L)).as("n_suppliers"),
          sum(when(col("id") % 2 === 1, 1L).otherwise(0L)).as("n_customers"),
          min("id").as("min_node"))
        .orderBy("lbl")
    }),

    // Community-quality score (r6f) — Newman modularity of the SAME LPA
    // communities graph_label_prop emits (one shared lpaLabels loop, so
    // census and score can never disagree on the assignment). With M
    // directed edges (each undirected edge counted both ways), ee_c
    // intra-community directed edges and d_c the community's directed
    // degree sum: Q = (M·Σee_c − Σd_c²) / M² — ALL integer moments
    // (two keyed aggregates over the label-joined edge list), one
    // fixed-order double emission. The label frame is checkpointed once
    // (two join consumers — the multi-consumer rule); the moment frame
    // feeds one keys=[] partial aggregate. Q > 0 means the partition
    // beats random wiring; the gauge every community detection needs
    // before anyone trusts its clusters.
    "graph_modularity" -> ((s, d) => {
      val e = edges(s, d)
      val lab = lpaLabels(e).transform(Scale.materialize)
      val el = e
        .join(lab.select(col("id"), col("lbl").as("slbl")), e("src") === col("id"))
        .drop("id")
        .join(lab.select(col("id").as("id2"), col("lbl").as("dlbl")),
          col("dst") === col("id2"))
      val per = el.groupBy(col("slbl").as("lbl"))
        .agg(count(lit(1)).as("d_c"),
          sum(when(col("slbl") === col("dlbl"), 1L).otherwise(0L)).as("ee_c"))
      per.agg(count(lit(1)).as("nc"), sum("d_c").as("m2"),
          sum("ee_c").as("see"), sum(expr("d_c * d_c")).as("sdd"))
        .selectExpr("nc AS n_communities", "m2 AS m_directed",
          "see AS intra_directed", s"$modularitySql AS modularity")
    }),

    // Degree assortativity (r6g) — Newman's r: does the graph wire
    // high-degree nodes to high-degree nodes (r > 0) or hubs to leaves
    // (r < 0)? THE one-number topology gauge you read before choosing a
    // partition strategy (disassortative hub-leaf graphs are the ones
    // that need salting). Pearson correlation of (deg(src), deg(dst))
    // over the DIRECTED edge list (each undirected edge both ways), so
    // by symmetry Σx = Σy and Σx² = Σy² and
    // r = (M·Sxy − Sx²) / (M·Sxx − Sx²). ALL moments are exact integer
    // sums (DECIMAL(38,0) — deg·deg products escape BIGINT headroom at
    // ~1000×; HUGEINT in the oracle), each cast ONCE to double, then one
    // shared fixed-order formula (the modularity emission rule). Shape:
    // one degree groupBy + two shuffle joins of degrees into edges + one
    // keys=[] partial-aggregable scalar aggregate.
    "graph_assortativity" -> ((s, d) => {
      val e = edges(s, d)
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val el = e
        .join(deg.select(col("src").as("id"), col("deg").as("dx")), e("src") === col("id"))
        .join(deg.select(col("src").as("id2"), col("deg").as("dy")), col("dst") === col("id2"))
      el.agg(count(lit(1)).as("m"),
          sum(expr("CAST(dx AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(dx AS DECIMAL(38,0)) * dx")).as("sxx"),
          sum(expr("CAST(dx AS DECIMAL(38,0)) * dy")).as("sxy"))
        .selectExpr("m", "CAST(m AS DOUBLE) AS md", "CAST(sx AS DOUBLE) AS sxd",
          "CAST(sxx AS DOUBLE) AS sxxd", "CAST(sxy AS DOUBLE) AS sxyd")
        .selectExpr("m AS m_directed", "((CASE WHEN isnan((sxd / md)) OR abs((sxd / md)) >= 9e12 THEN CAST((sxd / md) AS DOUBLE) ELSE CAST(floor((sxd / md) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS mean_edge_deg",
          s"$assortF AS assortativity")
    }),

    // Neighborhood-Jaccard link scoring (r6e) — the set-overlap member
    // of the link-prediction family next to Adamic-Adar (AA weights
    // shared baskets by rarity; Jaccard normalizes by the UNION of the
    // two parts' basket sets, so promiscuous parts score low even with
    // many shared baskets). Pure integer arithmetic end to end —
    // |∩| from the shared supportedPairs generator, degrees from one
    // partial-aggregable groupBy, |∪| = deg_a + deg_b − |∩| by
    // inclusion-exclusion — and ONE fixed final division, so no
    // transcendental ever runs (stronger than AA's precomputed-ln
    // table: here there is nothing to precompute).
    "graph_jaccard_nbr" -> ((s, d) => {
      val p = basketItems(s, d)
      val deg = p.groupBy("pk").agg(count(lit(1)).as("deg"))
      supportedPairs(p)
        .join(deg.as("da"), col("p1") === col("da.pk"))
        .join(deg.as("db"), col("p2") === col("db.pk"))
        .select(col("p1"), col("p2"), col("sup").as("common"),
          col("da.deg").as("deg_a"), col("db.deg").as("deg_b"))
        .select(col("p1"), col("p2"), col("common"), col("deg_a"), col("deg_b"),
          r6(col("common").cast("double") /
            (col("deg_a") + col("deg_b") - col("common")).cast("double"))
            .as("jaccard"))
        .orderBy("p1", "p2")
    }),

    // Adamic-Adar link scoring (r6c) over the co-purchase bipartite
    // graph: AA(p1, p2) = sum over shared baskets o of 1/ln(|o|) — the
    // classic link-prediction weight (rare, small baskets say more than
    // huge ones). Cross-engine exactness WITHOUT cross-engine ln: the
    // per-basket-size weights are precomputed ONCE in Scala as exact
    // nano-unit BIGINTs (aaWeights) and interpolated into BOTH the query
    // (literal array) and the oracle SQL (literal list) — the
    // benfordThousandths pattern — so the shuffled sum is order-free
    // integer arithmetic and the only FP is one fixed final division.
    // Pair generation is the group-bounded within-basket self-join
    // (C(k,2), k <= lines/order); the >= 2 common-basket floor prunes
    // the output like supportedPairs does.
    "graph_adamic_adar" -> ((s, d) => {
      val p = basketItems(s, d)
      val kk = p.groupBy("ok").agg(count(lit(1)).as("k")).where(col("k") >= 2)
      val wts = p.join(kk, "ok")
        .select(col("ok"), col("pk"),
          element_at(typedlit(aaWeights),
            least(col("k") - 1, lit(aaWeights.size.toLong)).cast("int")).as("w"))
      wts.as("a").join(wts.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .agg(sum(col("a.w")).as("sw"), count(lit(1)).as("common"))
        .where(col("common") >= 2)
        .select(col("p1"), col("p2"), col("common"),
          r6(col("sw").cast("double") / 1.0e9).as("aa_score"))
        .orderBy("p1", "p2")
    })
  )

  /** Exact nano-unit Adamic-Adar weights floor(1e9/ln(k) + 0.5) for
    * basket sizes k = 2..65 (fixture max is ~11; sizes past the table
    * clamp to the last entry via LEAST on both engines). ONE Scala
    * derivation feeds query AND oracle, so no cross-engine ln ever runs
    * — the benfordThousandths precedent. */
  private[queries] val aaWeights: Seq[Long] =
    (2 to 65).map(k => math.floor(1.0e9 / math.log(k.toDouble) + 0.5).toLong)

  /** The 3-round synchronous LPA label frame (id, lbl) over a symmetric
    * edge set — ONE loop definition shared by graph_label_prop and
    * graph_modularity (and their oracles via lpRoundSql), so the
    * community assignment can never drift between the census and its
    * quality score. */
  private def lpaLabels(e: DataFrame): DataFrame = {
    var lab = e.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    for (_ <- 1 to iters) {
      val cnts = e.join(lab, e("src") === lab("id"))
        .select(col("dst"), col("lbl"))
        .groupBy("dst", "lbl").agg(count(lit(1)).as("cnt"))
      lab = cnts.groupBy(col("dst"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("lb"))).as("m"))
        .select(col("dst").as("id"), col("m.lb").as("lbl"))
    }
    lab
  }

  /** Distinct (order, part) basket membership — the shared base of the
    * two market-basket queries (mirrored in basketCteSql). */
  private def basketItems(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()

  /** Co-purchase pairs (p1 < p2) with support >= 2 — ONE pair/threshold
    * definition for affinity and triangles (and their oracles). */
  private def supportedPairs(p: DataFrame): DataFrame =
    p.as("a").join(p.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("sup"))
      .where(col("sup") >= 2)

  /** DuckDB mirror of basketItems + supportedPairs. */
  private def basketCteSql: String =
    "p AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
      "pr AS (SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS sup FROM p a " +
      "JOIN p b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 " +
      "HAVING COUNT(*) >= 2)"

  /** Local clustering coefficient emission — integer numerator/denominator
    * (2·tri, deg·(deg−1)), one correctly-rounded cast each, one division,
    * round 6 (shared formula string; degree-1 nodes emit 0.0). */
  private def ccF: String =
    "CASE WHEN deg >= 2 THEN ((CASE WHEN isnan((CAST(2 * tri AS DOUBLE) / " +
      "(CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE)))) OR abs((CAST(2 * tri AS DOUBLE) / " +
      "(CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE)))) >= 9e12 THEN CAST((CAST(2 * tri AS DOUBLE) / " +
      "(CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE))) AS DOUBLE) ELSE CAST(floor((CAST(2 * tri AS DOUBLE) / " +
      "(CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE))) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) " +
      "ELSE CAST(0.0 AS DOUBLE) END"

  /** One DuckDB rank round: the identical integer ops (// is DuckDB's
    * integer division; SUM(BIGINT) widens to HUGEINT — cast back). */
  private def roundSql(it: Int): String =
    s"r$it AS (SELECT dst AS id, " +
      s"150000 + (17 * CAST(SUM(r // dg) AS BIGINT)) // 20 AS r " +
      s"FROM ed JOIN r${it - 1} ON ed.src = r${it - 1}.id GROUP BY dst)"

  /** One DuckDB PPR round: the pagerank round with the teleport term
    * seed-gated and the full node frame re-entering via LEFT JOIN
    * (zero-contribution seeds must survive each round). */
  private def pprRoundSql(it: Int): String =
    s"pc$it AS (SELECT ed.dst, CAST(SUM(r // dg) AS BIGINT) AS cs " +
      s"FROM ed JOIN p${it - 1} ON ed.src = p${it - 1}.id GROUP BY 1), " +
      s"p$it AS (SELECT n.id, CAST(CASE WHEN n.id % 7 = 0 THEN 150000 ELSE 0 END " +
      s"+ (17 * COALESCE(pc$it.cs, 0)) // 20 AS BIGINT) AS r " +
      s"FROM n LEFT JOIN pc$it ON n.id = pc$it.dst)"

  /** Katz round mirror: the HUGEINT sum is the oracle twin of the query's
    * DECIMAL(38,0) sum; `//` on nonnegative == Spark DIV; the BIGINT cast
    * mirrors IntegralDivide's return type. */
  private def katzRoundSql(it: Int): String =
    s"k$it AS (SELECT dst AS id, " +
      s"1000000 + CAST(SUM(CAST(k AS HUGEINT)) // 8 AS BIGINT) AS k " +
      s"FROM e JOIN k${it - 1} ON e.src = k${it - 1}.id GROUP BY dst)"

  /** Modularity emission formula off the exact integer moments (m2 = M
    * directed edges, see = Σ intra, sdd = Σ d_c²) — shared verbatim by
    * query and oracle; every product stays under 2^53 so the doubles
    * are exact before the one division. */
  private def modularitySql: String =
    "((CASE WHEN isnan(((CAST(m2 AS DOUBLE) * CAST(see AS DOUBLE) - CAST(sdd AS DOUBLE)) / " +
      "(CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)))) OR abs(((CAST(m2 AS DOUBLE) * CAST(see AS DOUBLE) - CAST(sdd AS DOUBLE)) / " +
      "(CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)))) >= 9e12 THEN CAST(((CAST(m2 AS DOUBLE) * CAST(see AS DOUBLE) - CAST(sdd AS DOUBLE)) / " +
      "(CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))) AS DOUBLE) ELSE CAST(floor(((CAST(m2 AS DOUBLE) * CAST(see AS DOUBLE) - CAST(sdd AS DOUBLE)) / " +
      "(CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))) * 1e6 + 0.5) AS DOUBLE) / 1e6 END))"

  /** Assortativity emission off the double-cast exact moments (md =
    * directed edge count, sxd = Σdeg(src), sxxd = Σdeg(src)², sxyd =
    * Σdeg(src)·deg(dst)) — shared verbatim by query and oracle; NULL on
    * a degree-regular graph (zero denominator), fixed op order so both
    * engines run identical IEEE arithmetic even past 2^53. */
  private def assortF: String =
    "CASE WHEN md * sxxd - sxd * sxd = 0.0 THEN CAST(NULL AS DOUBLE) " +
      "ELSE ((CASE WHEN isnan(((md * sxyd - sxd * sxd) / (md * sxxd - sxd * sxd))) OR abs(((md * sxyd - sxd * sxd) / (md * sxxd - sxd * sxd))) >= 9e12 THEN CAST(((md * sxyd - sxd * sxd) / (md * sxxd - sxd * sxd)) AS DOUBLE) ELSE CAST(floor(((md * sxyd - sxd * sxd) / (md * sxxd - sxd * sxd)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) END"

  /** One DuckDB HITS round: authority = max-normalized hub sums over
    * in-edges, then hub = max-normalized authority sums over out-edges —
    * the identical integer ops as the query (SUM cast back from HUGEINT,
    * the normalization cross-multiplication IN HUGEINT, // == DIV on
    * nonnegative). */
  private def hitsRoundSql(k: Int): String =
    s"ar$k AS (SELECT ck, CAST(SUM(h) AS BIGINT) AS ar " +
      s"FROM eh JOIN h${k - 1} USING (sk) GROUP BY ck), " +
      s"ma$k AS (SELECT MAX(ar) AS m FROM ar$k), " +
      s"a$k AS (SELECT ck, CAST((CAST(ar AS HUGEINT) * 1000000) // m AS BIGINT) AS a " +
      s"FROM ar$k CROSS JOIN ma$k), " +
      s"hr$k AS (SELECT sk, CAST(SUM(a) AS BIGINT) AS hr " +
      s"FROM eh JOIN a$k USING (ck) GROUP BY sk), " +
      s"mh$k AS (SELECT MAX(hr) AS m FROM hr$k), " +
      s"h$k AS (SELECT sk, CAST((CAST(hr AS HUGEINT) * 1000000) // m AS BIGINT) AS h " +
      s"FROM hr$k CROSS JOIN mh$k)"

  /** One DuckDB label-propagation round: per-(node, label) neighbor
    * counts, then the identical (-cnt, lbl) min-struct argmax. */
  private def lpRoundSql(it: Int): String =
    s"c$it AS (SELECT e.dst AS id, l.lbl, COUNT(*) AS cnt " +
      s"FROM e JOIN lp${it - 1} l ON e.src = l.id GROUP BY 1, 2), " +
      s"lp$it AS (SELECT id, (MIN(struct_pack(nc := -cnt, lb := lbl))).lb AS lbl " +
      s"FROM c$it GROUP BY id)"

  /** The shared edge-set CTE fragment (e0 -> symmetric e) of the graph
    * mirror — one definition for both graph oracles. */
  private def edgesCteSql: String =
    "e0 AS (SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
      "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)"

  val oracle: Map[String, String] = Map(
    "graph_components" ->
      // the dedup_cluster_cc recursive-closure shape over the shared
      // basket pair CTEs; set-semantics UNION converges; the per-node
      // MIN(r) is Scale.connectedComponents' component-min cluster id
      (s"WITH RECURSIVE $basketCteSql, " +
       "e AS (SELECT p1 AS u, p2 AS v FROM pr UNION ALL SELECT p2, p1 FROM pr), " +
       "nodes AS (SELECT DISTINCT pk AS id FROM p), " +
       "reach AS (SELECT id AS n, id AS r FROM nodes " +
       "UNION SELECT e.v AS n, reach.r AS r FROM reach JOIN e ON e.u = reach.n), " +
       "c AS (SELECT n, MIN(r) AS cluster FROM reach GROUP BY 1), " +
       "s AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS csize FROM c GROUP BY 1) " +
       "SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_components FROM s " +
       "GROUP BY 1 ORDER BY 1"),
    "graph_bfs_dist" ->
      // recursive-CTE BFS: enumerate (node, depth) pairs to the hop bound
      // (set-semantics UNION bounds the recursion), then MIN(d) per node
      // — the relational mirror of synchronous min-relaxation
      (s"WITH RECURSIVE $edgesCteSql, " +
       "seeds AS (SELECT s_suppkey * 2 AS id FROM supplier WHERE s_suppkey % 7 = 0), " +
       "reach AS (SELECT id, CAST(0 AS BIGINT) AS d FROM seeds " +
       s"UNION SELECT e.dst, r.d + 1 FROM reach r JOIN e ON e.src = r.id WHERE r.d < $iters), " +
       "md AS (SELECT id, MIN(d) AS d FROM reach GROUP BY 1) " +
       "SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes, " +
       "CAST(SUM(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers, " +
       "CAST(SUM(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers, " +
       "MIN(id) AS min_node, MAX(id) AS max_node FROM md GROUP BY 1 ORDER BY 1"),
    "graph_degree_hist" ->
      (s"WITH $edgesCteSql, " +
       "deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1) " +
       "SELECT deg, " +
       "CAST(SUM(CASE WHEN src % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers, " +
       "CAST(SUM(CASE WHEN src % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers " +
       "FROM deg GROUP BY 1 ORDER BY 1"),
    "graph_assortativity" ->
      // same symmetric edge CTE, degrees joined into both endpoints,
      // HUGEINT moment sums cast once to double, the shared assortF
      // emission verbatim
      (s"WITH $edgesCteSql, " +
       "dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1), " +
       "el AS (SELECT a.deg AS dx, b.deg AS dy FROM e " +
       "JOIN dg a ON e.src = a.src JOIN dg b ON e.dst = b.src), " +
       "mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, " +
       "SUM(CAST(dx AS HUGEINT)) AS sx, SUM(CAST(dx AS HUGEINT) * dx) AS sxx, " +
       "SUM(CAST(dx AS HUGEINT) * dy) AS sxy FROM el), " +
       "dd AS (SELECT m, CAST(m AS DOUBLE) AS md, CAST(sx AS DOUBLE) AS sxd, " +
       "CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd FROM mo) " +
       "SELECT m AS m_directed, ((CASE WHEN isnan((sxd / md)) OR abs((sxd / md)) >= 9e12 THEN CAST((sxd / md) AS DOUBLE) ELSE CAST(floor((sxd / md) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS mean_edge_deg, " +
       s"$assortF AS assortativity FROM dd"),
    "graph_pagerank" ->
      (s"WITH $edgesCteSql, " +
       "deg AS (SELECT src, COUNT(*) AS dg FROM e GROUP BY 1), " +
       "ed AS (SELECT e.src, e.dst, deg.dg FROM e JOIN deg ON e.src = deg.src), " +
       "r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg), " +
       (1 to iters).map(roundSql).mkString(", ") + ", " +
       s"t AS (SELECT id, r FROM r$iters ORDER BY r DESC, id LIMIT 20) " +
       "SELECT id AS node, CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind, " +
       "id // 2 AS entity_key, r AS pr FROM t ORDER BY pr DESC, node"),
    "graph_ppr" ->
      // the pagerank mirror with a seed-gated teleport, a full node
      // frame (n), and the LEFT-JOIN round shape; // == DIV on nonneg
      (s"WITH $edgesCteSql, " +
       "deg AS (SELECT src, COUNT(*) AS dg FROM e GROUP BY 1), " +
       "ed AS (SELECT e.src, e.dst, deg.dg FROM e JOIN deg ON e.src = deg.src), " +
       "n AS (SELECT DISTINCT src AS id FROM e), " +
       "p0 AS (SELECT id, CAST(CASE WHEN id % 7 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS r FROM n), " +
       (1 to iters).map(pprRoundSql).mkString(", ") + ", " +
       s"t AS (SELECT id, r FROM p$iters WHERE r > 0 ORDER BY r DESC, id LIMIT 20) " +
       "SELECT id AS node, CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind, " +
       "id // 2 AS entity_key, id % 7 = 0 AS is_seed, r AS ppr FROM t ORDER BY ppr DESC, node"),
    "graph_katz" ->
      (s"WITH $edgesCteSql, " +
       "nodes AS (SELECT DISTINCT src AS id FROM e), " +
       "k0 AS (SELECT id, CAST(1000000 AS BIGINT) AS k FROM nodes), " +
       (1 to iters).map(katzRoundSql).mkString(", ") + ", " +
       s"t AS (SELECT id, k FROM k$iters ORDER BY k DESC, id LIMIT 20) " +
       "SELECT id AS node, CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind, " +
       "id // 2 AS entity_key, k AS katz FROM t ORDER BY katz DESC, node"),
    "graph_hits" ->
      // directed bipartite edge CTE, three unrolled hub/authority rounds
      // with the identical integer max-normalization, top-12 per side
      ("WITH eh AS (SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
       "h0 AS (SELECT DISTINCT sk, CAST(1000000 AS BIGINT) AS h FROM eh), " +
       (1 to iters).map(hitsRoundSql).mkString(", ") + ", " +
       s"th AS (SELECT sk, h FROM h$iters ORDER BY h DESC, sk LIMIT 12), " +
       s"ta AS (SELECT ck, a FROM a$iters ORDER BY a DESC, ck LIMIT 12) " +
       "SELECT kind, entity_key, score FROM (" +
       "SELECT 'hub' AS kind, sk AS entity_key, h AS score FROM th " +
       "UNION ALL SELECT 'authority', ck, a FROM ta) " +
       "ORDER BY kind, score DESC, entity_key"),
    "graph_basket_affinity" ->
      // COUNT(*) sums cast back from HUGEINT-free paths (plain BIGINT);
      // lift = identical fixed-order double ops off exact integer counts
      (s"WITH $basketCteSql, " +
       "si AS (SELECT pk, COUNT(*) AS s FROM p GROUP BY 1), " +
       "n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets FROM p) " +
       "SELECT p1, p2, sup, s1.s AS s1, s2.s AS s2, " +
       "((CASE WHEN isnan((CAST(sup AS DOUBLE) * CAST(n_baskets AS DOUBLE) / " +
       "(CAST(s1.s AS DOUBLE) * CAST(s2.s AS DOUBLE)))) OR abs((CAST(sup AS DOUBLE) * CAST(n_baskets AS DOUBLE) / " +
       "(CAST(s1.s AS DOUBLE) * CAST(s2.s AS DOUBLE)))) >= 9e12 THEN CAST((CAST(sup AS DOUBLE) * CAST(n_baskets AS DOUBLE) / " +
       "(CAST(s1.s AS DOUBLE) * CAST(s2.s AS DOUBLE))) AS DOUBLE) ELSE CAST(floor((CAST(sup AS DOUBLE) * CAST(n_baskets AS DOUBLE) / " +
       "(CAST(s1.s AS DOUBLE) * CAST(s2.s AS DOUBLE))) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS lift " +
       "FROM pr JOIN si s1 ON pr.p1 = s1.pk JOIN si s2 ON pr.p2 = s2.pk " +
       "CROSS JOIN n ORDER BY p1, p2"),
    "graph_triangles" ->
      (s"WITH $basketCteSql, " +
       "e AS (SELECT p1, p2 FROM pr) " +
       "SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c " +
       "FROM e e1 JOIN e e2 ON e1.p2 = e2.p1 " +
       "JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2 " +
       "ORDER BY a, b, c"),
    "graph_clustering_coeff" ->
      // same basket CTEs, same ordered triangle enumeration; unnest([a,b,c])
      // mirrors the three-corner explode; shared emission formula
      (s"WITH $basketCteSql, " +
       "e AS (SELECT p1, p2 FROM pr), " +
       "dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM " +
       "(SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e) GROUP BY 1), " +
       "t AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c " +
       "FROM e e1 JOIN e e2 ON e1.p2 = e2.p1 " +
       "JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2), " +
       "tn AS (SELECT unnest([a, b, c]) AS node FROM t), " +
       "tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM tn GROUP BY 1), " +
       "j AS (SELECT dg.node AS node, deg, COALESCE(tri, CAST(0 AS BIGINT)) AS tri " +
       "FROM dg LEFT JOIN tc ON dg.node = tc.node) " +
       s"SELECT node, deg, tri, $ccF AS coeff FROM j ORDER BY node"),
    "graph_label_prop" ->
      // same symmetric edge CTE, synchronous rounds unrolled, the same
      // integer min-struct majority argmax; SUM/COUNT cast back from
      // HUGEINT in the summary
      (s"WITH $edgesCteSql, " +
       "n0 AS (SELECT DISTINCT src AS id FROM e), " +
       "lp0 AS (SELECT id, id AS lbl FROM n0), " +
       (1 to iters).map(lpRoundSql).mkString(", ") + " " +
       s"SELECT lbl, CAST(COUNT(*) AS BIGINT) AS comm_size, " +
       "CAST(SUM(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers, " +
       "CAST(SUM(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers, " +
       s"MIN(id) AS min_node FROM lp$iters GROUP BY 1 ORDER BY 1"),
    "graph_modularity" ->
      // the SAME lp-round CTEs as the label_prop oracle, then the edge
      // list label-joined on both endpoints and the identical integer
      // moments + shared emission formula
      (s"WITH $edgesCteSql, " +
       "n0 AS (SELECT DISTINCT src AS id FROM e), " +
       "lp0 AS (SELECT id, id AS lbl FROM n0), " +
       (1 to iters).map(lpRoundSql).mkString(", ") + ", " +
       s"el AS (SELECT a.lbl AS slbl, b.lbl AS dlbl FROM e " +
       s"JOIN lp$iters a ON e.src = a.id JOIN lp$iters b ON e.dst = b.id), " +
       "per AS (SELECT slbl AS lbl, CAST(COUNT(*) AS BIGINT) AS d_c, " +
       "CAST(SUM(CASE WHEN slbl = dlbl THEN 1 ELSE 0 END) AS BIGINT) AS ee_c " +
       "FROM el GROUP BY 1), " +
       "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc, CAST(SUM(d_c) AS BIGINT) AS m2, " +
       "CAST(SUM(ee_c) AS BIGINT) AS see, CAST(SUM(d_c * d_c) AS BIGINT) AS sdd FROM per) " +
       "SELECT nc AS n_communities, m2 AS m_directed, see AS intra_directed, " +
       s"$modularitySql AS modularity FROM tot"),
    "graph_adamic_adar" ->
      // the SAME Scala-derived nano-unit weight literals as the query
      // (no DuckDB ln anywhere); integer sum, one final fixed division
      ("WITH p AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
       "kk AS (SELECT ok, COUNT(*) AS k FROM p GROUP BY 1 HAVING COUNT(*) >= 2), " +
       s"w AS (SELECT p.ok, p.pk, (${aaWeights.mkString("[", ", ", "]")})" +
       s"[LEAST(CAST(k - 1 AS INT), ${aaWeights.size})] AS w " +
       "FROM p JOIN kk ON p.ok = kk.ok), " +
       "pr2 AS (SELECT a.pk AS p1, b.pk AS p2, CAST(SUM(a.w) AS BIGINT) AS sw, " +
       "COUNT(*) AS common FROM w a JOIN w b ON a.ok = b.ok AND a.pk < b.pk " +
       "GROUP BY 1, 2 HAVING COUNT(*) >= 2) " +
       "SELECT p1, p2, common, ((CASE WHEN isnan((CAST(sw AS DOUBLE) / 1000000000.0)) OR abs((CAST(sw AS DOUBLE) / 1000000000.0)) >= 9e12 THEN CAST((CAST(sw AS DOUBLE) / 1000000000.0) AS DOUBLE) ELSE CAST(floor((CAST(sw AS DOUBLE) / 1000000000.0) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS aa_score " +
       "FROM pr2 ORDER BY p1, p2"),
    "graph_jaccard_nbr" ->
      // shared basket/pair CTEs (basketCteSql), one degree aggregate,
      // the identical inclusion-exclusion denominator and fixed division
      (s"WITH $basketCteSql, " +
       "dg AS (SELECT pk, COUNT(*) AS deg FROM p GROUP BY 1) " +
       "SELECT p1, p2, sup AS common, a.deg AS deg_a, b.deg AS deg_b, " +
       "((CASE WHEN isnan((CAST(sup AS DOUBLE) / CAST(a.deg + b.deg - sup AS DOUBLE))) OR abs((CAST(sup AS DOUBLE) / CAST(a.deg + b.deg - sup AS DOUBLE))) >= 9e12 THEN CAST((CAST(sup AS DOUBLE) / CAST(a.deg + b.deg - sup AS DOUBLE)) AS DOUBLE) ELSE CAST(floor((CAST(sup AS DOUBLE) / CAST(a.deg + b.deg - sup AS DOUBLE)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS jaccard " +
       "FROM pr JOIN dg a ON p1 = a.pk JOIN dg b ON p2 = b.pk ORDER BY p1, p2")
  )
}
