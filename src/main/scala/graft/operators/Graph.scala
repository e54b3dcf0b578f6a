package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints.TruncateOps

/** Graph analytics over edge tables — the link-structure complement to
  * the dedup stack's connected components (`Dedup.nearDupClusters`' min
  * label propagation): document/source importance for crawl
  * prioritization and quality weighting (PageRank over a hyperlink or
  * citation graph is the classic corpus-curation signal).
  *
  * Scale design: each iteration is ONE shuffle — contributions group by
  * destination; the rank frame re-joins the (checkpointed) out-degree
  * edge list, which keeps its partitioning across iterations. Driver
  * work is O(iterations) actions on vocab^0 scalars — nothing
  * corpus-sized leaves the executors. Per-destination contributions are
  * rounded to 9 decimals and summed as DECIMAL, so every iteration —
  * and therefore the final ranks — is independent of partitioning and
  * summation order: externally replicable, with the oracle unrolling
  * the same iterations in SQL. */
object Graph {

  /** Standard damped PageRank over a directed edge list (srcCol,
    * dstCol), `iters` synchronous iterations from a uniform start.
    *
    * Semantics (the Brin & Page 1998 form, normalized to sum ≈ 1):
    * rank₀(v) = 1/N; rankₖ(v) = (1−d)/N + d·Σ_{u→v} rankₖ₋₁(u)/deg(u).
    * Dangling nodes (no out-edges) leak their mass — the conventional
    * simplification, matched exactly by the oracle. Vertices = every
    * node appearing as a source OR destination. Output: (node,
    * rank[rounded 6], out_degree) sorted nowhere — callers order.
    *
    * Masses live on the 1e-9 INTEGER lattice: each per-edge
    * contribution rounds to whole units round(rank_units·d/deg) and
    * sums as a plain LONG — bit-stable under any partitioning (exact
    * integer addition), which is what lets DuckDB replicate every
    * iteration exactly, with zero per-row decimal work (the
    * correlationMatrix lesson: precision-28 decimal sums leave
    * Spark's compact fast path — the decimal form of this operator
    * measured 1.8× slower at sf0.1 for identical guarantees). Mass
    * bounds: units ≤ 1e9 per node, so long sums hold to ~9e9 nodes;
    * the output HALF_UP display rounding is integer arithmetic
    * ((u + 500) div 1000), so no engine ever rounds a float tie. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .truncateLineage(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .truncateLineage(false)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // the degree-annotated edge list is loop-invariant: materialize it
    // once instead of re-running the degree aggregate + join every
    // iteration. At sf0.1 the measured gain is ~1% (AQE broadcasts the
    // small degree frame, so the per-iteration rebuild was cheap); the
    // hoist is for scale, where deg is node-count-sized and each rebuilt
    // iteration would pay a full shuffle join instead of none.
    val edgesWithDeg = e.join(deg, Seq("src")).truncateLineage(false)
    val n = nodes.count()
    require(n > 0, "pageRank needs at least one edge")
    // both constants are whole 1e-9 units, rounded from the identical
    // expression shape the oracle evaluates (round-half-away on a
    // positive value — same in Scala, Spark and DuckDB)
    val baseU = math.round(1e9 * (1.0 - damping) / n)
    var ranks = nodes.withColumn("ru", lit(math.round(1e9 / n.toDouble)))
    (0 until iters).foreach { i =>
      val contrib = edgesWithDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("ru").cast("double") * damping / col("deg"))
            .cast("long").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("in_mass"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(baseU) + coalesce(col("in_mass"), lit(0L))).as("ru"))
      // r17 (fixed per-round overhead): each rank frame is consumed
      // exactly ONCE by the next iteration, so the unrolled plan is a
      // straight line — a lineage cut every 4th round bounds planning
      // depth without paying one materialization job per iteration
      if ((i + 1) % 4 == 0) ranks = ranks.truncateLineage(false)
    }
    ranks
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      // display rounding as INTEGER arithmetic: (u + 500) div 1000 is
      // HALF_UP on the positive unit masses, so no engine ever rounds
      // a float tie (ranks are quantized — dangling nodes share exact
      // masses, making systematic ties a certainty, not a tail risk)
      .select(col("node"),
        (expr("(ru + 500) DIV 1000").cast("double") / lit(1e6))
          .as("rank"),
        coalesce(col("deg"), lit(0L)).as("out_degree"))
  }

  /** Weight-proportional PageRank — the [[hostGraph]] companion: a
    * contracted graph carries multiplicities (n_links between two
    * hosts), and ranking should spread a node's mass in proportion
    * to them, not uniformly per neighbor:
    * rankₖ(v) = (1−d)/N + d·Σ_{u→v} rankₖ₋₁(u)·w(u,v)/Σw(u,·).
    *
    * Same 1e-9 integer-lattice numerics and one-shuffle-per-iteration
    * shape as [[pageRank]]; per-edge units round from the fixed
    * double shape ru·d·w/wdeg (w/wdeg ≤ 1 keeps magnitudes inside
    * the lattice bounds). Weights must be positive INTEGERS (counts
    * — quantize rational weights upstream): the out-strength Σw is
    * then an exact long, partition-order independent, where a double
    * weight sum would not replicate. Parallel (src, dst) edges sum
    * their weights first. Node keys keep their input type (the host
    * graph's string hosts join/group as-is — no long cast).
    * Output: (node, rank[rounded 6], out_weight). */
  def pageRankWeighted(edges: DataFrame, srcCol: String,
                       dstCol: String, weightCol: String,
                       iters: Int = 3,
                       damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .truncateLineage(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .truncateLineage(false)
    val wdeg = e.groupBy(col("src")).agg(sum(col("w")).as("wdeg"))
    val ew = e.join(wdeg, Seq("src")).truncateLineage(false)
    val n = nodes.count()
    require(n > 0, "pageRankWeighted needs at least one positive-weight edge")
    val baseU = math.round(1e9 * (1.0 - damping) / n)
    var ranks = nodes.withColumn("ru", lit(math.round(1e9 / n.toDouble)))
    (0 until iters).foreach { i =>
      val contrib = ew
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("ru").cast("double") * damping *
              col("w").cast("double") / col("wdeg").cast("double"))
            .cast("long").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("in_mass"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(baseU) + coalesce(col("in_mass"), lit(0L))).as("ru"))
      // straight-line lineage: cut every 4th round (see pageRank)
      if ((i + 1) % 4 == 0) ranks = ranks.truncateLineage(false)
    }
    ranks
      .join(wdeg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"),
        (expr("(ru + 500) DIV 1000").cast("double") / lit(1e6))
          .as("rank"),
        coalesce(col("wdeg"), lit(0L)).as("out_weight"))
  }

  /** Personalized PageRank (seeded teleport — the TrustRank shape,
    * Gyongyi 2004): identical recurrence to [[pageRank]] except ALL
    * teleport mass returns to the seed set instead of spreading
    * uniformly: rank₀(v) = 1/|S| for v ∈ S else 0; rankₖ(v) =
    * [v ∈ S]·(1−d)/|S| + d·Σ_{u→v} rankₖ₋₁(u)/deg(u). Rank then
    * measures proximity to the seeds — the crawl-pipeline uses are
    * trust propagation from a hand-vetted host list (pages far from
    * every trusted seed are the spam candidates) and topic-focused
    * crawl prioritization from in-topic exemplars. Dangling mass
    * leaks, as in [[pageRank]] — the conventional simplification,
    * matched by the oracle.
    *
    * Vertices = edge endpoints ∪ seeds (an isolated seed still holds
    * teleport mass). Same 1e-9 integer-lattice numerics and same
    * one-shuffle-per-iteration shape as [[pageRank]]; the seed flag
    * is a node-keyed left join against the (checkpointed) seed frame,
    * broadcast when small. |S| is the only driver-side scalar.
    * Output: (node, rank[rounded 6], out_degree, is_seed). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           srcCol: String, dstCol: String,
                           seedCol: String = "node",
                           iters: Int = 3,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .truncateLineage(false)
    val sd = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct()
      .truncateLineage(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(sd)
      .distinct()
      .truncateLineage(false)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgesWithDeg = e.join(deg, Seq("src")).truncateLineage(false)
    val nS = sd.count()
    require(nS > 0, "personalizedPageRank needs at least one seed")
    // the loop-invariant seed flag rides the node frame so the
    // per-iteration rebuild is one column expression, not a re-join
    val flagged = nodes
      .join(sd.withColumn("is_seed", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(false))
        .as("is_seed"))
      .truncateLineage(false)
    val baseU = math.round(1e9 * (1.0 - damping) / nS)
    val initU = math.round(1e9 / nS.toDouble)
    var ranks = flagged.select(col("node"),
      when(col("is_seed"), lit(initU)).otherwise(lit(0L)).as("ru"))
    (0 until iters).foreach { i =>
      val contrib = edgesWithDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          round(col("ru").cast("double") * damping / col("deg"))
            .cast("long").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("in_mass"))
      ranks = flagged
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed"), lit(baseU)).otherwise(lit(0L)) +
            coalesce(col("in_mass"), lit(0L))).as("ru"))
      // straight-line lineage: cut every 4th round (see pageRank)
      if ((i + 1) % 4 == 0) ranks = ranks.truncateLineage(false)
    }
    ranks
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .join(flagged, Seq("node"))
      .select(col("node"),
        (expr("(ru + 500) DIV 1000").cast("double") / lit(1e6))
          .as("rank"),
        coalesce(col("deg"), lit(0L)).as("out_degree"),
        col("is_seed"))
  }

  /** Adamic-Adar link prediction — the classic common-neighbor score
    * (Adamic & Adar 2003): candidate pair (a,b) scores
    * Σ_{v ∈ Γ(a)∩Γ(b)} 1/ln(deg(v)) — shared RARE neighbors are
    * evidence, shared hubs are noise. On a crawl/citation graph the
    * top non-edges are the "pages that should link" / related-item
    * candidates; on an entity graph, merge candidates.
    *
    * Scale contract: wedges enumerate per CENTER v, and a hub center
    * emits deg² wedges — so centers with deg > `maxDegree` are
    * SKIPPED entirely (the standard top-k-pruning approximation;
    * Adamic-Adar itself says those contribute least per wedge, but
    * note a pair whose ONLY common neighbors are skipped hubs scores
    * 0). The quadratic is then bounded by maxDegree²·|centers|.
    * Existing edges anti-join out — predictions are NON-edges only.
    *
    * Numerics: each wedge term round(1/ln(deg), 9) sums as DECIMAL
    * (order-independent, SQL-replicable); top-N cuts on (score desc,
    * a, b) via TakeOrderedAndProject. Output: (rank, a, b, n_common,
    * score[rounded 6]). Input treated as UNdirected simple graph
    * (self-loops dropped, directions folded). */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 topN: Int = 20, maxDegree: Int = 64): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    require(maxDegree >= 2, "maxDegree must be >= 2")
    val e = edges.select(col(srcCol).cast("long").as("x"),
        col(dstCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
    val nbr = e.select(col("x").as("v"), col("y").as("n"))
      .union(e.select(col("y").as("v"), col("x").as("n")))
      .distinct()
      .truncateLineage(false)
    val deg = nbr.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val centers = nbr.join(
      deg.filter(col("deg") >= 2 && col("deg") <= maxDegree), Seq("v"))
    val wedges = centers.as("l")
      .join(centers.as("r"), Seq("v"))
      .filter(col("l.n") < col("r.n"))
      .select(col("l.n").as("a"), col("r.n").as("b"),
        round(lit(1.0) / log(col("l.deg").cast("double")), 9)
          .cast("decimal(38,9)").as("term"))
    val existing = nbr.filter(col("v") < col("n"))
      .select(col("v").as("a"), col("n").as("b"))
    wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("term")).as("s"))
      .join(existing, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("n_common"),
        round(col("s"), 6).cast("double").as("score"))
      .orderBy(col("score").desc, col("a"), col("b"))
      .limit(topN)
      .coalesce(1)
      .sortWithinPartitions(col("score").desc, col("a"), col("b"))
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) — PageRank's companion
    * on directed link graphs, and the natural consumer of
    * [[HtmlExtract.extractLinks]] edges: a page is a good AUTHORITY if
    * good hubs link to it, a good HUB if it links to good authorities.
    * Synchronous mutual-recursion iterations with L1 normalization
    * each half-step.
    *
    * Numerics follow the pageRank integer-lattice discipline: scores
    * are unit masses on the 1e-9 lattice (longs — exact,
    * order-independent sums on the compact-long fast path), and each
    * normalization is ONE fixed-shape double expression
    * (`round(m / S * 1e9)`) both engines evaluate identically, so the
    * run replicates in SQL round-for-round (q_graph_hits). The L1
    * norm totals ride IN-PLAN as broadcast 1-row aggregates — no
    * driver action anywhere in the loop.
    *
    * Scale shape: per iteration, one src-keyed and one dst-keyed
    * shuffle (the contribution aggregates) plus node-keyed left joins
    * against the stable node frame; the edge list materializes once.
    * Output: (node, authority, hub) on the integer display-rounding
    * lattice (6 decimals, HALF_UP in integer arithmetic — quantized
    * masses make ties systematic, and no engine may float-round
    * them). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .truncateLineage(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .truncateLineage(false)
    require(e.limit(1).count() > 0, "hits needs at least one edge")
    // r16: the mass total stays IN-PLAN as a broadcast scalar
    // (crossJoin of a 1-row aggregate) instead of a per-phase driver
    // `.head` action — 2 blocking driver round-trips per iteration
    // removed, identical exact-long total and rounding
    // r17: the truncation moved from the OUTPUT to the INPUT — masses
    // is read twice (the broadcast total and the row pass), so the
    // un-truncated form evaluated each contribution join + groupBy
    // twice per half-step; the output is a cheap projection over the
    // checkpoint and needs no barrier of its own
    def normalize(masses: DataFrame, out: String): DataFrame = {
      val m1 = masses.truncateLineage(false)
      val tot = m1.agg(sum(col("m")).as("__s"))
      m1.crossJoin(broadcast(tot))
        .select(col("node"),
          round(col("m").cast("double") / col("__s").cast("double")
            * lit(1e9)).cast("long").as(out))
    }
    var hub = nodes.withColumn("hu", lit(1000000000L))
    var auth: DataFrame = null
    (0 until iters).foreach { _ =>
      val aIn = e.join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("hu")).as("m"))
      auth = normalize(nodes.join(aIn, Seq("node"), "left")
        .select(col("node"), coalesce(col("m"), lit(0L)).as("m")), "au")
      val hIn = e.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("au")).as("m"))
      hub = normalize(nodes.join(hIn, Seq("node"), "left")
        .select(col("node"), coalesce(col("m"), lit(0L)).as("m")), "hu")
    }
    nodes.join(auth, Seq("node")).join(hub, Seq("node"))
      .select(col("node"),
        (expr("(au + 500) DIV 1000").cast("double") / lit(1e6))
          .as("authority"),
        (expr("(hu + 500) DIV 1000").cast("double") / lit(1e6))
          .as("hub"))
  }

  /** The k-core of an undirected graph: the maximal subgraph in which
    * every node has degree ≥ k, by synchronous iterative peeling
    * (remove all nodes with degree < k, recompute, repeat to fixpoint).
    * The standard structural spam filter for link/interaction graphs —
    * a crawl-farm node ring with thin attachment to the real web falls
    * out of the 3-core while organically-embedded pages survive.
    *
    * Scale shape: each round is one degree aggregate over the
    * surviving edge list plus two semi-joins restricting edges to
    * surviving nodes — all keyed, nothing collected; the edge frame
    * only shrinks. Rounds are bounded by `maxRounds` (peeling depth —
    * the graph's degeneracy ordering length, small for real graphs);
    * the fixpoint test rides the same action that materializes each
    * round. Deterministic → the oracle unrolls the same rounds in SQL.
    * Output: (node, core_degree) for k-core members, core_degree =
    * degree within the core. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 30): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    var e = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      .truncateLineage(false)
    var round = 0
    var converged = false
    var lastDeg: DataFrame = null
    while (!converged && round < maxRounds) {
      val deg = e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .truncateLineage(false)
      val survivors = deg.filter(col("deg") >= k)
      val next = e
        .join(survivors.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(survivors.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .truncateLineage(false)
      // one action per round: the dropped-node count both materializes
      // the checkpoint and decides convergence
      val removed = deg.filter(col("deg") < k).count()
      lastDeg = deg
      e = next
      round += 1
      converged = removed == 0
    }
    if (!converged) throw new IllegalStateException(
      s"kCore did not converge in $maxRounds rounds — raise maxRounds " +
        "(peeling depth exceeds the budget)")
    lastDeg.filter(col("deg") >= k)
      .select(col("node"), col("deg").as("core_degree"))
  }

  /** Degree assortativity coefficient of an undirected graph: the
    * Pearson correlation of endpoint degrees over edges (Newman 2002).
    * Positive = hubs link hubs (social graphs), negative = hubs link
    * leaves (the web, star-shaped scraper farms) — a one-number health
    * diagnostic for a crawl graph. One degree aggregate + one keyed
    * join + one global reduce; the sums are exact integers (degrees
    * and their products), so the final double arithmetic has identical
    * shape in the SQL oracle. Both edge orientations enter the sums —
    * the standard symmetric treatment. Returns a 1-row frame
    * (n_edges, assortativity); degenerate variance (e.g. a regular
    * graph) yields NULL. */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val und = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      .truncateLineage(false)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val sym = und.select(col("a").as("x"), col("b").as("y"))
      .union(und.select(col("b").as("x"), col("a").as("y")))
    val joined = sym
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), Seq("y"))
    val denom =
      (col("m2") * col("sxx") - col("sx") * col("sx")).cast("double")
    joined.agg(
        (count(lit(1)) / 2).cast("long").as("n_edges"),
        count(lit(1)).as("m2"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"))
      .select(col("n_edges"),
        // explicit zero-variance guard (ANSI mode turns /0 into an
        // error, not a null)
        when(denom =!= 0.0,
          round((col("m2") * col("sxy") - col("sx") * col("sx"))
            .cast("double") / denom, 6)).as("assortativity"))
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * undirected graph — the density complement to [[pageRank]]'s
    * importance: high clustering separates genuine communities (mutual
    * citation/link cliques) from spam link farms and star-shaped
    * scraper hubs, a standard crawl-curation signal.
    *
    * Scale design — degree-ordered orientation (the MapReduce
    * node-iterator of Suri & Vassilvitskii 2011, "Counting Triangles
    * and the Curse of the Last Reducer"): every undirected edge is
    * directed from its lower-(degree, id) endpoint to the higher, which
    * makes the edge relation a DAG whose out-degree is O(√m) REGARDLESS
    * of in-degree — a celebrity node with 10⁸ followers generates no
    * wedges at all unless its neighbors are themselves high-degree.
    * Wedges come from one self-join of the oriented list on its source
    * (the low-degree pivot, so the per-key fan-out is the bounded
    * out-degree squared, never raw-degree squared); each triangle
    * closes via exactly one (lowest-rank pivot) wedge probing the
    * oriented edge set, so no triangle is double-counted and no
    * neighborhood is ever collected into a row. Two shuffles total
    * beyond the degree computation; all joins are equi-joins on keys
    * AQE can split on skew.
    *
    * Semantics: undirected distinct edges from (srcCol, dstCol);
    * self-loops contribute their node but no edge. Output: one row per
    * node appearing in the input — (node, degree, triangles,
    * clustering) with clustering = 2·T / (deg·(deg−1)) rounded to 6
    * (0 when deg < 2), exactly replicable in SQL by exhaustive
    * triangle enumeration. */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val nodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node")))
      .distinct()
    val und = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      .truncateLineage(false)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .truncateLineage(false)
    // orient low→high under the total order (deg, id); carry the
    // destination's rank key so wedge endpoints can be ordered without
    // another degree join
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .truncateLineage(false)
    // wedges at each pivot: unordered out-neighbor pairs, emitted with
    // the closing edge's own (lo → hi) orientation so the probe is a
    // direct equi-join
    val yLater = col("x.ddeg") < col("y.ddeg") ||
      (col("x.ddeg") === col("y.ddeg") && col("x.dst") < col("y.dst"))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") && yLater)
      .select(col("x.src").as("pivot"),
        col("x.dst").as("lo"), col("y.dst").as("hi"))
    val triangles = wedges.join(
      oriented.select(col("src").as("lo"), col("dst").as("hi")),
      Seq("lo", "hi"))
    val perNode = triangles
      .select(explode(array(col("pivot"), col("lo"), col("hi"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    nodes
      .join(deg, Seq("node"), "left")
      .join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
            round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("deg") * (col("deg") - lit(1)).cast("double")), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond"): each round rewires every edge toward the
    * minimum id seen in a local neighborhood, which contracts a
    * component of ANY diameter in O(log n) rounds — the scale
    * complement to [[graft.operators.Dedup.nearDupClusters]]' min-label
    * propagation, whose round count is the cluster DIAMETER. Near-dup
    * clusters are shallow so propagation wins on constant factors
    * there; a path-shaped graph (temporal chains, citation threads,
    * linked sessions) makes propagation O(n)-round while this stays
    * logarithmic (measured: see BASELINE.md's deep-chain row).
    *
    * The loop core runs on partitioner-pinned RDD[(Long, Long)] pairs —
    * the GraphX/Pregel pattern — NOT on per-round DataFrames, and the
    * reason is measured, not aesthetic: a DataFrame loop re-runs
    * Catalyst analysis + optimization + physical planning for every
    * round's plans, which cost 0.7–1.2 s of DRIVER time per round at
    * ANY data size (profiled here: a 16-round sf0.1 run spent 4 s
    * executing and ~18 s planning). With a shared `HashPartitioner`,
    * each round is exactly three pair shuffles (symmetrize, re-key to
    * child, distinct) and the min-fold + both joins are co-partitioned
    * zero-shuffle narrow ops — strictly fewer exchanges than the
    * Catalyst version's five, with zero per-round planning. Per-node
    * mins come from `foldByKey`, so a high-degree hub costs a combiner
    * — map-side-combined aggregate, never a collected neighborhood.
    *
    * Driver work is one action per round: a 2-value (count, XOR-fold
    * hash) fingerprint of the new edge set. Fixpoint is DETECTED by
    * fingerprint equality with the previous round but PROVEN by one
    * exact symmetric-difference probe before exiting — a colliding
    * fingerprint (astronomically unlikely for a 64-bit mix, but
    * possible) just costs one wasted probe and the loop continues, so
    * convergence remains exact while steady-state rounds never pay the
    * set-equality join.
    *
    * Semantics: undirected graph from (srcCol, dstCol); self-loops
    * contribute their node but no edge. Output: (node, component) for
    * every node appearing in the input, component = min node id
    * reachable — deterministic for any input, so the DuckDB oracle can
    * replicate it independently (recursive closure or run-numbering). */
  def connectedComponents(edges: DataFrame, srcCol: String,
                          dstCol: String, maxRounds: Int = 40): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val spark = edges.sparkSession
    val raw = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val nodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node")))
      .distinct()
      .truncateLineage(false)
    // canonical child>parent orientation; self-loops already counted in
    // `nodes` carry no connectivity. No distinct: the local-contraction
    // union-find below absorbs duplicate edges for free.
    val init = raw.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
    val sc = spark.sparkContext
    val keep = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // 64-bit splitmix-style mix for the order-independent XOR-fold
    // edge-set fingerprint (count, xor) — collision-guarded by the
    // exact probe below, so quality only affects wasted-probe odds
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def fingerprint(f: org.apache.spark.rdd.RDD[(Long, Long)]): (Long, Long) =
      f.mapPartitions { it =>
        var c = 0L; var x = 0L
        it.foreach { case (a, b) =>
          c += 1; x ^= mix(mix(a) ^ (b * 0xc2b2ae3d27d4eb4fL))
        }
        Iterator((c, x))
      }.fold((0L, 0L)) { case ((c1, x1), (c2, x2)) => (c1 + c2, x1 ^ x2) }
    // Local-contraction preprocess: range-partition edges by the child
    // endpoint and run an in-memory union-find per partition, emitting
    // each partition's spanning forest as (node → min set member). The
    // union over partitions of per-partition spanning forests preserves
    // connectivity exactly (the classic Borůvka-style sparsification),
    // so the star loop runs on the quotient. Two regimes:
    //   - id-local graphs (temporal chains, crawl batches, anything
    //     where linked nodes have nearby ids) contract almost entirely
    //     inside partitions — the forest is already star-shaped up to
    //     cross-boundary stubs and the loop converges in 1–2 rounds
    //     (measured at sf0.1: 16 rounds → 1, query 15.2 s → 3.4 s);
    //   - id-random graphs still shrink to a forest of ≤ (nodes − local
    //     components) edges for the cost of one range shuffle, and the
    //     loop's O(log n) bound is unchanged.
    // Memory contract: one LongMap entry per distinct node in the
    // partition — partitions are sized to ~250k edges (≤ ~500k map
    // entries, tens of MB) by the live edge count below, never config.
    def localForest(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent.update(c, r); c = n }
        r
      }
      it.foreach { case (u, v) =>
        if (!parent.contains(u)) parent.update(u, u)
        if (!parent.contains(v)) parent.update(v, v)
        val ru = find(u); val rv = find(v)
        // link larger root under smaller: every root stays its set's min,
        // so emitted parents are component-local minima — deterministic
        if (ru != rv) {
          if (ru < rv) parent.update(rv, ru) else parent.update(ru, rv)
        }
      }
      val ks = parent.keys.toArray // snapshot: find() path-compresses
      ks.iterator.flatMap { n =>
        val r = find(n)
        if (r != n) Iterator((n, r)) else Iterator.empty
      }
    }
    // one pass fingerprints the raw edge list; its count sizes the
    // partitioners: ~250k edges (a few MB of pairs) per partition,
    // floored at 1 and capped at cluster width. A 100k-edge graph runs
    // single-task rounds (task-launch overhead, not data, dominates
    // small iterative stages); a 100 TB edge list fans out to the full
    // cluster. Re-derived from the live count, never a config.
    val wide = math.max(sc.defaultParallelism, init.rdd.getNumPartitions)
    def sized(cnt: Long): Int =
      math.max(1, math.min(wide, (cnt / 250000L + 1L).toInt))
    val pairs0 = init.rdd.map(r => (r.getLong(0), r.getLong(1)))
      .persist(keep)
    val fp0 = fingerprint(pairs0)
    val forest: org.apache.spark.rdd.RDD[(Long, Long)] =
      if (fp0._1 == 0L) sc.emptyRDD[(Long, Long)]
      else pairs0
        .partitionBy(new org.apache.spark.RangePartitioner(
          sized(fp0._1), pairs0))
        .mapPartitions(localForest)
        .persist(keep)
    var prevFp = fingerprint(forest)
    pairs0.unpersist(false)
    val part = new org.apache.spark.HashPartitioner(sized(prevFp._1))
    var e: org.apache.spark.rdd.RDD[(Long, Long)] = forest
      .partitionBy(part)
      .persist(keep)
    // exact set equality of two DISTINCT edge sets: every element of the
    // union must appear exactly twice — runs only on fingerprint match
    def sameEdgeSet(a: org.apache.spark.rdd.RDD[(Long, Long)],
                    b: org.apache.spark.rdd.RDD[(Long, Long)]): Boolean =
      a.map((_, 1)).union(b.map((_, 1)))
        .reduceByKey(_ + _, part.numPartitions)
        .filter(_._2 != 2).isEmpty()
    var converged = prevFp._1 == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      val tRound = System.nanoTime()
      // large-star: every strictly-larger neighbor v of u re-attaches
      // to m(u) = min(Γ(u) ∪ {u}). Symmetric view so both endpoints
      // act as u; co-partitioned so the min-fold and join are narrow.
      val sym = e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .partitionBy(part)
        .persist(keep)
      val m = sym.foldByKey(Long.MaxValue)(math.min)
        .mapPartitions(_.map { case (u, mn) => (u, math.min(u, mn)) },
          preservesPartitioning = true)
      val large = sym.join(m) // zero-shuffle: same partitioner
        .flatMap { case (u, (v, mm)) =>
          if (v > u && v != mm) Iterator((v, mm)) else Iterator.empty
        }
        .partitionBy(part)
        .persist(keep)
      // small-star: each child u and all its (strictly smaller) parents
      // re-attach to the smallest parent — emitted pairwise, never
      // collected; duplicates from the un-deduped large step fall out
      // in the distinct
      val smin = large.foldByKey(Long.MaxValue)(math.min)
      val next = large.join(smin) // zero-shuffle: same partitioner
        .flatMap { case (c, (p, mp)) => Iterator((c, mp), (p, mp)) }
        .filter { case (x, y) => x != y }
        .distinct(part.numPartitions)
        .persist(keep)
      val fp = fingerprint(next) // materializes the round
      converged = fp == prevFp && sameEdgeSet(next, e)
      if (sys.env.contains("SPARK_GRAFT_CC_DEBUG"))
        System.err.println(f"[cc] round=$round edges=${fp._1}%d " +
          f"roundTotal=${(System.nanoTime() - tRound) / 1e9}%.2fs " +
          f"converged=$converged")
      sym.unpersist(false)
      large.unpersist(false)
      e.unpersist(false)
      prevFp = fp
      e = next
      round += 1
    }
    forest.unpersist(false)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxRounds rounds — " +
        "the alternation is O(log n) rounds, so this indicates a " +
        "pathological input; raise maxRounds")
    // at fixpoint e is a star forest rooted at component minima
    import spark.implicits._
    val comp = spark.createDataset(e).toDF("node", "__c")
      .groupBy(col("node")).agg(min(col("__c")).as("__c"))
    nodes.join(comp, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("__c"), col("node")).as("component"))
  }

  /** Synchronous label-propagation community detection (Raghavan 2007):
    * every node simultaneously adopts the most frequent label among its
    * neighbors, smallest label on ties — the cheap density-based
    * community pass that sits between [[connectedComponents]] (pure
    * reachability: one bridge edge merges two communities) and anything
    * modularity-optimizing (orders of magnitude more machinery). On a
    * content/link graph it splits the giant connected component into
    * densely-linked clusters — topic/mirror/farm groups — in a handful
    * of rounds.
    *
    * Determinism: classic async LPA is run-order dependent; the
    * synchronous form with the (count desc, label asc) tie-break is a
    * pure function of the graph and round count, so a fixed-`iters` run
    * replicates exactly in external SQL (the pageRank unrolled-oracle
    * discipline; sync LPA can oscillate on bipartite structures rather
    * than converge, which bounded rounds sidestep — pass the iteration
    * count you can afford, not "until stable").
    *
    * Scale shape per round: one label-keyed join onto the undirected
    * edge list, a (node, label) count, a per-node max, and the
    * tie-break min — all keyed shuffles bounded by the edge count;
    * nothing collected, lineage cut per round. Output: (node, label)
    * after `iters` rounds; labels are node ids (community = lowest
    * surviving seed in practice). */
  /** One synchronous LPA round: (count DESC, label ASC) as ONE argmax
    * aggregate — max_by over the (cnt, -label) struct — so a round is
    * the votes join plus two keyed exchanges, where the
    * votes-join-max-filter form paid three plus a second join (the
    * ordering struct is tie-free: label is a group key of the vote
    * count, so the pick is deterministic). Package-private and
    * truncation-free so the plan-shape spec can inspect a round
    * directly (truncateLineage erases it from the final plan). */
  private[graft] def lpaRound(und: DataFrame,
                              labels: DataFrame): DataFrame =
    und
      .join(labels.withColumnRenamed("node", "b"), Seq("b"))
      .groupBy(col("a"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("a"))
      .agg(max_by(col("label"),
        struct(col("cnt"), (-col("label")).as("neg"))).as("label"))
      .select(col("a").as("node"), col("label"))

  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .truncateLineage(false)
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    (0 until iters).foreach { _ =>
      labels = lpaRound(und, labels).truncateLineage(false)
    }
    labels
  }

  /** Contract a page-level link table to the HOST graph — the
    * standard web-scale reduction in front of [[pageRank]] /
    * [[connectedComponents]] / [[hits]]: a 100 TB crawl has billions
    * of pages but only ~10⁸ hosts, so ranking hosts (edge = src host
    * → dst host, weighted by link and distinct-page counts) is what
    * makes the iterative operators fit.
    *
    * Host extraction is [[UrlOps.hostOf]] — the ONE host grammar in
    * the library (lowercased, userinfo/port stripped, null for
    * non-http(s)) — so host-graph keys pool with
    * [[UrlOps.canonicalizeUrls]]' host/domain columns instead of
    * drifting on a second regex. Src may already BE a host column
    * (`srcIsUrl = false`): it is lowercased only, matching hostOf's
    * case convention. Edges with an unparseable side drop.
    *
    * `toDomain = true` contracts one level further, to the
    * approximate eTLD+1 ([[UrlOps.registeredDomain]] — the compact
    * PSL subset): the level where mirror subdomains pool and
    * per-publisher caps/ranks operate. Output column names stay
    * (src_host, dst_host) so the graph operators compose unchanged.
    *
    * Scale shape: staged codegen'd projections + ONE (src_host,
    * dst_host) keyed aggregate (partial map-side combine;
    * count_distinct adds the standard expand-by-page pass) — output
    * ∝ distinct host pairs, never pages. Output: (src_host,
    * dst_host, n_links, n_pages). */
  def hostGraph(links: DataFrame, srcCol: String, dstUrlCol: String,
                pageIdCol: String = "doc_id",
                srcIsUrl: Boolean = true,
                toDomain: Boolean = false,
                suffixRules: Option[org.apache.spark.sql.graftext
                  .PslRules] = None): DataFrame = {
    // staged selects, not one projection: the AUTHORITY extract (the
    // expensive regex) materializes behind its own boundary, so the
    // finishing rules read a computed column instead of re-running
    // the extract per reference — conditionals defeat codegen
    // subexpression elimination, measured ~2× here when inlined.
    // CollapseProject keeps the split (non-cheap, multiply-
    // referenced aliases); the workingForm stage merges into the
    // extract stage (single reference), so each side pays exactly
    // two regexes per row on the common path.
    val auths = links.select(
      (if (srcIsUrl) UrlOps.hostAuthority(
          UrlOps.workingForm(col(srcCol)))
       else lower(col(srcCol))).as("__src_a"),
      UrlOps.hostAuthority(UrlOps.workingForm(col(dstUrlCol)))
        .as("__dst_a"),
      col(pageIdCol).as("__page"))
    val srcHost =
      if (srcIsUrl) UrlOps.hostFromAuth(col("__src_a"))
      else col("__src_a")
    // unparseable-edge drops ride as a HAVING-style filter on an
    // AGGREGATED validity flag, not a row filter: a pre-aggregation
    // filter on the host columns would be predicate-pushed below the
    // projection, inlining the whole extraction tree once PER
    // CONJUNCT (measured 2.5× on the r12 bench). Validity is a pure
    // function of the group keys, so min() is exact; the handful of
    // invalid groups aggregate and then drop — bounded, never
    // corpus-sized.
    val valid = col("src_host").isNotNull && col("src_host") =!= "" &&
      col("dst_host").isNotNull && col("dst_host") =!= ""
    val hosted = auths.select(srcHost.as("src_host"),
      UrlOps.hostFromAuth(col("__dst_a")).as("dst_host"),
      col("__page"))
    // domain contraction (`toDomain`): registeredDomain applies in a
    // FOURTH select over the materialized host columns — its label
    // splits reference the host many times, and inlined they would
    // re-run the whole host extraction per reference (the pushdown
    // lesson above, projection-side)
    // `suffixRules` swaps the compact PSL subset for a FULL loaded
    // suffix list (wildcards, exceptions, private domains — the
    // PslDomain hash-walk expression) without changing the plan
    // shape; edge conventions match, so only listed-suffix hosts
    // pool differently
    def dom(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      suffixRules match {
      case Some(r) => org.apache.spark.sql.graftext.PslDomain(c, r)
      case None => UrlOps.registeredDomain(c)
    }
    val keyed =
      if (!toDomain) hosted
      else hosted.select(
        dom(col("src_host")).as("src_host"),
        dom(col("dst_host")).as("dst_host"),
        col("__page"))
    keyed
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col("__page")).as("n_pages"),
        min(valid).as("__ok"))
      .filter(col("__ok")).drop("__ok")
  }

  /** Deterministic random walks — node2vec/DeepWalk-style corpus
    * generation (one fixed-length walk per node) with HASH-SEEDED
    * neighbor choice instead of an RNG: at step k a walk at `cur`
    * moves to the neighbor whose sorted-adjacency index is
    * `hash48(start|cur|k|seed) mod degree(cur)` on the house md5
    * grammar. Same seed → bit-identical walks under any partitioning
    * or retry (the property an RNG walk fundamentally lacks — and
    * what makes the output replayable as TRAINING DATA and
    * replicable by the DuckDB oracle); different seeds → independent
    * walk sets, so "n walks per node" is a union over n seeds — but
    * downstream [[walkPairs]] requires ONE walk per start value, so a
    * multi-seed union must first key each walk uniquely (concat the
    * seed into the start id); walkPairs fails loudly otherwise.
    * Output: (start, step, node) rows, step 0..steps — one row per
    * walk position; walks at isolated nodes end at step 0.
    *
    * Scale design (r17 — the whole walk family shares ONE capped
    * machinery, see [[cappedAdjacency]]): the adjacency is grouped
    * into rows of ≤ `bucketCap` dst-sorted neighbors — every
    * aggregation buffer and row payload is BOUNDED, so a 10⁶-degree
    * hub can no longer materialize a multi-MB array row (the r16
    * uncapped form's failure mode at 100 TB). Each step is one
    * equi-join on the current node emitting one row per walker
    * (hash-mod pick via element_at into the bucket-0 array) plus a
    * left join against the hub buckets that only picks ≥ cap reach —
    * work per step ∝ walkers, never all-pairs, FLAT in hub degree,
    * nothing on the driver. */
  def deterministicWalks(edges: DataFrame, srcCol: String,
                         dstCol: String, steps: Int,
                         seed: String = "s0",
                         undirected: Boolean = true,
                         bucketCap: Int = 1024): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(!seed.contains("|"), "seed must not contain '|'")
    require(bucketCap >= 1, "bucketCap must be >= 1")
    val e = orientedEdges(edges, srcCol, dstCol, undirected)
    val (b0, bHi, _) = cappedAdjacency(e, bucketCap)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    cappedWalkLoop(nodes.select(col("node").as("start")), b0, bHi,
      steps, seed, bucketCap)
  }

  /** Seeded walks: [[deterministicWalks]]' exact hash grammar (same
    * seed → bit-identical positions, spec-pinned) walking only from a
    * `seeds` slice — the crawl-frontier / embedding-corpus shape.
    * Runs the FRONTIER-SCOPED loop ([[scopedWalkLoop]]): each step
    * builds the capped adjacency only for the nodes its walkers
    * occupy (one left-semi join against the materialized edge frame)
    * instead of paying the all-nodes form's whole-graph build — the
    * per-step cost is ∝ Σ_frontier deg, never |E| sorted.
    *
    * Seeds absent from the graph emit their step-0 row and end there
    * (the isolated-node contract). Output: (start, step, node),
    * step 0..steps — identical shape and, for seeds = all nodes,
    * identical CONTENT to [[deterministicWalks]]. */
  def seededWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String, steps: Int,
                  seed: String = "s0", undirected: Boolean = true,
                  bucketCap: Int = 1024): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(!seed.contains("|"), "seed must not contain '|'")
    require(bucketCap >= 1, "bucketCap must be >= 1")
    val e = orientedEdges(edges, srcCol, dstCol, undirected)
    val starts = seeds.select(col(seedCol).as("start")).distinct()
    scopedWalkLoop(starts, e, steps, seed, bucketCap)
  }

  /** The walk family's oriented distinct edge frame: symmetrize when
    * undirected, drop self-loops, distinct, truncate (read by the
    * degree aggregate, the adjacency groupBys and the node set). */
  private def orientedEdges(edges: DataFrame, srcCol: String,
                            dstCol: String,
                            undirected: Boolean): DataFrame = {
    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val oriented =
      if (undirected)
        fwd.union(edges.select(col(dstCol).as("src"),
          col(srcCol).as("dst")))
      else fwd
    oriented.filter(col("src") =!= col("dst")).distinct()
      .truncateLineage(false)
  }

  /** The walk family's 48-bit md5 draw (the house hash grammar). */
  private def h48walk(cols: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws("|", cols: _*)), 1, 12), 16, 10)
      .cast("long")

  /** Capped sorted-adjacency tables shared by the whole walk family
    * ([[deterministicWalks]], [[seededWalks]], and the second-order
    * forms' uniform step 1) — r17, guide §2.5 (skew: bound per-key
    * state).
    *
    * Returns (b0, bHi): b0 holds ONE row per node — its degree plus
    * its first min(deg, cap) dst-sorted neighbors — so a walker
    * needs exactly one equi-join to learn deg, compute
    * pick = hash48 mod deg, and (for every pick < cap) read the
    * neighbor via element_at; bHi holds the idx-range buckets ≥ 1
    * that only HUB nodes (deg > cap) have, reached by a second
    * (left, normally-broadcast) join only when pick ≥ cap.
    *
    * Buffer discipline: the ≤-cap majority aggregates through a
    * plain groupBy whose collect_list buffer is BOUNDED by cap
    * (map-side partial aggregation applies); only hub edges pass
    * through a row_number window — the distributed rank, a
    * streaming sort that spills instead of buffering — and land in
    * ≤-cap bucket groups. The r16 uncapped groupBy-collect_list put
    * a hub's whole adjacency in ONE aggregation-buffer row (multi-MB
    * at 10⁶ degree); the r15 window-only build sorted EVERY edge.
    * This build bounds every buffer and sorts only the hub slice, at
    * the price of one degree aggregate + join. */
  private def cappedAdjacency(e: DataFrame, cap: Int)
      : (DataFrame, Option[DataFrame], DegreeStats) = {
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // ONE bounded driver row decides the plan (the AQE posture:
    // adapt the shape to the data, never the values): no hub above
    // the cap → the single map-side-combined groupBy, whose buffers
    // are then PROVABLY ≤ cap, and the loop skips the hub join
    // entirely. The probe is a partial-aggregated count — nothing
    // row-sized reaches the driver. The same action also fetches
    // Σ deg and Σ deg² for [[secondOrderWalk]]'s build-strategy
    // choice (no extra job).
    val maxDegRow = deg
      .agg(max(col("deg")), sum(col("deg")), count(lit(1))).head
    val stats =
      if (maxDegRow.isNullAt(0)) DegreeStats(0L, 0L, 0L)
      else DegreeStats(maxDegRow.getLong(0), maxDegRow.getLong(1),
        maxDegRow.getLong(2))
    val maxDeg = stats.maxDeg
    if (maxDeg <= cap) {
      val b0 = e.groupBy(col("src"))
        .agg(count(lit(1)).as("deg"),
          sort_array(collect_list(col("dst"))).as("arr"))
        .truncateLineage(false)
      (b0, None, stats)
    } else {
      val (b0, bHi) = windowAdjacency(e, cap)
      (b0, Some(bHi), stats)
    }
  }

  /** Bounded degree summary from [[cappedAdjacency]]'s probe action:
    * max out-degree (hub branch), Σ deg = |E| and the source-node
    * count (the second-order build-strategy choice). */
  private case class DegreeStats(maxDeg: Long, sumDeg: Long,
                                 nSrc: Long)

  /** The hub-capable window-based adjacency build — ONE row_number
    * window (the distributed rank — a streaming sort that spills
    * instead of buffering a hub's adjacency) assigns the sorted index
    * and degree in one pass, and the bucket groupBy reuses its src
    * hash partitioning (no second exchange); every collect_list group
    * is ≤ cap. ONE materialization serves both outputs. Shared by
    * [[cappedAdjacency]]'s hub branch and the frontier-scoped per-step
    * builds (where the probe action is skipped: the scoped slice is
    * walker-sized, and the window form is correct at any degree). */
  private def windowAdjacency(e: DataFrame, cap: Int)
      : (DataFrame, DataFrame) = {
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
    val buckets = e.select(col("src"), col("dst"),
        row_number().over(wSrc.orderBy(col("dst"))).as("idx"),
        count(lit(1)).over(wSrc).as("deg"))
      .withColumn("bucket",
        ((col("idx") - 1) / lit(cap)).cast("long"))
      .groupBy(col("src"), col("bucket"))
      .agg(max(col("deg")).as("deg"),
        transform(
          sort_array(collect_list(struct(col("idx"), col("dst")))),
          x => x("dst")).as("arr"))
      .truncateLineage(false)
    val b0 = buckets.filter(col("bucket") === 0)
      .select(col("src"), col("deg"), col("arr"))
    val bHi = buckets.filter(col("bucket") >= 1)
      .select(col("src"), col("bucket"), col("arr"))
    (b0, bHi)
  }

  /** ONE first-order step: pick = hash48(start|cur|k|seed) mod deg,
    * neighbor = element_at into the dst-sorted capped adjacency —
    * bit-identical to indexing the full sorted list at ANY cap
    * (bucket-0 covers picks < cap; hub picks ≥ cap take the left
    * join's (pick div cap) bucket at local index pick mod cap).
    * Emits one (start, node) row per surviving walker. */
  private def cappedPick(walk: DataFrame, b0: DataFrame,
                         bHi: Option[DataFrame], k: Int, seed: String,
                         cap: Int): DataFrame = {
    val hash = h48walk(col("wk.start").cast("string"),
      col("wk.node").cast("string"), lit(k.toString), lit(seed))
    val j1 = walk.alias("wk")
      .join(b0.alias("b0"), col("wk.node") === col("b0.src"))
      .select(col("wk.start").as("start"), col("wk.node").as("node"),
        col("b0.arr").as("arr0"),
        pmod(hash, col("b0.deg")).as("p0"))
    bHi match {
      case None => // hubless graph: every pick is in the bucket-0 row
        j1.select(col("start"),
          element_at(col("arr0"), (col("p0") + 1).cast("int"))
            .as("node"))
      case Some(hi) =>
        j1.alias("j1")
          .join(hi.alias("bh"),
            col("j1.node") === col("bh.src") &&
              (col("j1.p0") / lit(cap)).cast("long") ===
                col("bh.bucket"),
            "left")
          .select(col("j1.start").as("start"),
            when(col("j1.p0") < cap,
              element_at(col("j1.arr0"),
                (col("j1.p0") + 1).cast("int")))
              .otherwise(element_at(col("bh.arr"),
                (pmod(col("j1.p0"), lit(cap)) + 1).cast("int")))
              .as("node"))
    }
  }

  /** First-order walk loop over the capped adjacency: one
    * [[cappedPick]] per step, one row per walker, lineage truncated
    * per step. Output: (start, step, node), step 0..steps. */
  private def cappedWalkLoop(starts: DataFrame, b0: DataFrame,
                             bHi: Option[DataFrame], steps: Int,
                             seed: String, cap: Int): DataFrame = {
    var walk = starts.select(col("start"), col("start").as("node"))
      .truncateLineage(false)
    var acc = walk.select(col("start"), lit(0).as("step"), col("node"))
    (1 to steps).foreach { k =>
      walk = cappedPick(walk, b0, bHi, k, seed, cap)
        .truncateLineage(false)
      acc = acc.union(
        walk.select(col("start"), lit(k).as("step"), col("node")))
    }
    acc
  }

  /** Frontier-scoped first-order loop — the seeded forms' engine
    * (r17, guide §1.2 "don't compute things you throw away"): a
    * seeded walk touches only the nodes its walkers occupy, so each
    * step builds the capped adjacency ONLY for the current frontier
    * (one left-semi join against the materialized edge frame, then
    * the [[windowAdjacency]] build over that walker-sized slice)
    * instead of paying the whole-graph build the all-nodes form
    * amortizes over |V| walkers. Per-step cost ∝ Σ_frontier deg —
    * the documented seeded contract — and every buffer stays ≤ cap
    * (the window build is the spill-safe hub form, so no degree
    * probe action is needed). Pick grammar identical to
    * [[cappedWalkLoop]]: bit-identical output for any seed set. */
  private def scopedWalkLoop(starts: DataFrame, e: DataFrame,
                             steps: Int, seed: String, cap: Int)
      : DataFrame = {
    var walk = starts.select(col("start"), col("start").as("node"))
      .truncateLineage(false)
    var acc = walk.select(col("start"), lit(0).as("step"), col("node"))
    (1 to steps).foreach { k =>
      // left-semi needs no distinct on its right side
      val frontier = walk.select(col("node"))
      val es = e.join(frontier, e("src") === frontier("node"),
        "left_semi")
      val (b0, bHi) = windowAdjacency(es, cap)
      walk = cappedPick(walk, b0, Some(bHi), k, seed, cap)
        .truncateLineage(false)
      acc = acc.union(
        walk.select(col("start"), lit(k).as("step"), col("node")))
    }
    acc
  }

  /** Second-order (p, q)-biased deterministic walks — node2vec's
    * actual transition kernel (Grover & Leskovec 2016, public
    * algorithm), hash-seeded like [[deterministicWalks]]: from state
    * (prev = t, cur = v), neighbor x of v draws with unnormalized
    * weight 1/p if x = t (return), 1 if x is a neighbor of t
    * (stay close), 1/q otherwise (explore). `p`, `q` are positive
    * INTEGERS and weights compute on the exact integer lattice
    * {q, p·q, p} (× p·q) — no float normalization anywhere, so the
    * DuckDB oracle replays every draw digit-exact. The draw at step
    * k ≥ 2 is `r = hash48(start|prev|cur|k|seed) mod Σw`, selecting
    * the x whose cumulative-weight interval [cumBefore, cumBefore+w)
    * contains r in sorted-x order; step 1 (no prev) is
    * [[deterministicWalks]]' uniform pick verbatim. Same seed →
    * bit-identical walks under any partitioning or retry; p = q = 1
    * degenerates to uniform weights (but NOT to the first-order
    * corpus — the draw grammar includes prev by design).
    *
    * Scale design (r17 — both second-order forms share ONE capped
    * machinery, see [[cappedSuccessors]]): the weighted transition
    * table is precomputed ONCE on the DIRECTED-EDGE graph with every
    * per-(t, v) array row BOUNDED by `bucketCap` (the ≤-cap majority
    * carries its x-sorted successors + cumulative starts in one row;
    * hub (t, v) groups split into capped cumulative-WEIGHT buckets),
    * then every step is one equi-join of the (start, prev, cur)
    * frontier emitting one row per walker, plus a left join only hub
    * draws reach. The table holds Σ_v in(v)·out(v) rows (Σ deg²
    * undirected) — node2vec's well-known alias-table footprint, the
    * price of second-order bias (hub-squared; sample or thin hub
    * edges upstream if Σ deg² is prohibitive). The 1-hop membership
    * flag is one join against the edge set, not an all-pairs check.
    * Output: (start, step, node), step 0..steps. */
  def node2vecWalks(edges: DataFrame, srcCol: String, dstCol: String,
                    steps: Int, p: Int, q: Int, seed: String = "s0",
                    undirected: Boolean = true,
                    bucketCap: Int = 1024): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(p >= 1 && q >= 1,
      "p and q must be positive integers (integer-lattice weights)")
    require(!seed.contains("|"), "seed must not contain '|'")
    require(bucketCap >= 1, "bucketCap must be >= 1")
    val e = orientedEdges(edges, srcCol, dstCol, undirected)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    secondOrderWalk(e, nodes.select(col("node").as("start")), steps,
      p, q, seed, bucketCap)
  }

  /** Seeded second-order walks: [[node2vecWalks]]' exact (p, q) draw
    * grammar (same seed → bit-identical positions, spec-pinned)
    * walking only from a `seeds` slice — the crawl-frontier shape.
    * Runs FRONTIER-SCOPED ([[scopedSecondOrderLoop]]): each step
    * builds the capped successor tables only for the (prev, cur)
    * states its walkers occupy, instead of precomputing the
    * whole-graph Σ deg² table the all-nodes twin amortizes over |V|
    * walkers — per-step cost ∝ Σ_frontier deg(cur).
    *
    * Seeds absent from the graph emit their step-0 row and end there
    * (the isolated-node contract); on a DIRECTED graph a walker
    * reaching a sink node ends, exactly like the twin. Output:
    * (start, step, node), step 0..steps — for seeds = all nodes,
    * identical CONTENT to [[node2vecWalks]]. */
  def node2vecSeededWalks(edges: DataFrame, srcCol: String,
                          dstCol: String, seeds: DataFrame,
                          seedCol: String, steps: Int, p: Int, q: Int,
                          seed: String = "s0",
                          undirected: Boolean = true,
                          bucketCap: Int = 1024): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(p >= 1 && q >= 1,
      "p and q must be positive integers (integer-lattice weights)")
    require(!seed.contains("|"), "seed must not contain '|'")
    require(bucketCap >= 1, "bucketCap must be >= 1")
    val e = orientedEdges(edges, srcCol, dstCol, undirected)
    val starts = seeds.select(col(seedCol).as("start")).distinct()
      .truncateLineage(false)
    secondOrderWalk(e, starts, steps, p, q, seed, bucketCap,
      scoped = true)
  }

  /** Shared second-order engine: capped uniform step 1 + the
    * (p, q)-biased capped loop for steps 2..k. */
  private def secondOrderWalk(e: DataFrame, starts: DataFrame,
                              steps: Int, p: Int, q: Int, seed: String,
                              cap: Int,
                              scoped: Boolean = false): DataFrame = {
    var acc = starts.select(col("start"), lit(0).as("step"),
      col("start").as("node"))
    // step 1: deterministicWalks' uniform pick verbatim (hash mod
    // deg indexes the dst-sorted capped adjacency); the seeded form
    // builds it only for the seed slice (frontier-scoped)
    val walk0 = starts.select(col("start"), col("start").as("node"))
    // step 1's adjacency is ALWAYS frontier-scoped in the seeded form
    // (one step, ∝ Σ_seeds deg ≤ |E| — never worse than the global
    // build); the all-nodes form keeps the probe-dispatched build.
    val (b0, bHi, statsOpt) =
      if (scoped) {
        // starts is already distinct (and left-semi would not care)
        val frontier = starts.select(col("start").as("node"))
        val es = e.join(frontier, e("src") === frontier("node"),
          "left_semi")
        val (s0, sHi) = windowAdjacency(es, cap)
        (s0, Some(sHi), None)
      } else {
        val (a0, aHi, st) = cappedAdjacency(e, cap)
        (a0, aHi, Some(st))
      }
    val walk1 = cappedPick(walk0, b0, bHi, 1, seed, cap)
      .select(col("start"), col("start").as("prev"),
        col("node").as("cur"))
      .truncateLineage(false)
    acc = acc.union(
      walk1.select(col("start"), lit(1).as("step"), col("cur")))
    if (steps == 1) acc
    else {
      // BUILD-STRATEGY choice for steps ≥ 2 (r17, guide §1.1
      // first-principles cost): the per-step frontier-scoped rebuild
      // touches Σ_{frontier states} deg(cur) rows per step, and a
      // walk frontier is SIZE-BIASED toward high degree (stationary
      // mass ∝ deg), so its expected per-walker cost is Σdeg²/Σdeg —
      // total scoped ≈ (steps−1)·walkers·Σdeg²/Σdeg vs the one-time
      // global table's Σdeg². Scoped wins iff (steps−1)·walkers <
      // Σdeg = |E|. (The earlier av-degree form of this rule ignored
      // frontier size and chose scoped even when steps·walkers ≫ |E|
      // — `graft.Probe walk_second_order`'s frontier sweep caught it.) Both
      // probes are bounded driver scalars; the pick grammar — and
      // therefore every position — is identical either way
      // (spec-pinned).
      val (walkers, edgeCount) = statsOpt match {
        case Some(st) => (st.nSrc, st.sumDeg) // all-nodes: |V|, |E|
        case None =>
          // seeded frontier: both counts in ONE bounded action
          // (2-row aggregate over the already-materializing frames)
          val cnts = e.select(lit(true).as("__e"))
            .unionAll(starts.select(lit(false).as("__e")))
            .groupBy(col("__e")).agg(count(lit(1)).as("c"))
            .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
          (cnts.getOrElse(false, 0L), cnts.getOrElse(true, 0L))
      }
      if ((steps - 1) * walkers < edgeCount)
        scopedSecondOrderLoop(walk1, acc, e, p, q, steps, seed, cap)
      else {
        // big frontiers / long walks: the one-time Σ deg² table
        // amortizes over the rounds. hasHubs from the probe when we
        // have one; the seeded path takes the hub-capable window
        // build unconditionally (correct at any degree)
        val (succT, hubBuckets) = cappedSuccessors(e, p, q, cap,
          hasHubs = statsOpt.forall(_.maxDeg > cap))
        cappedSecondOrderLoop(walk1, acc, succT, hubBuckets, steps,
          seed, cap)
      }
    }
  }

  /** Capped (t, v) successor tables shared by both second-order
    * forms — r17, guide §2.5 (bound per-key state).
    *
    * Returns (succT, hubBuckets): succT holds ONE row per directed
    * state (t, v) — the total weight plus, for the ≤-cap majority
    * (out-deg(v) ≤ cap), the x-sorted successor and cumulative-start
    * arrays (null for hub states); hubBuckets splits hub states into
    * capped cumulative-WEIGHT windows — bucket b holds every
    * successor whose interval [cumb, cumb + w) overlaps
    * [b·cap, (b+1)·cap) (a boundary-spanning successor replicates
    * into each window it touches), so the bucket holding draw r is
    * EXACTLY r div cap — integer arithmetic on the exact lattice, no
    * search, and ≤ cap+1 entries per bucket row (weights ≥ 1).
    *
    * Buffer discipline: cumulative starts come from ONE running-sum
    * window over the (t, v)-partitioned successor rows — a streaming
    * sort that spills instead of buffering (and the groupBys after
    * it reuse its hash partitioning — no new exchange); every
    * collect_list group is ≤ cap (normal rows) or ≤ cap+1 (hub
    * weight windows). The r16 form collected UNCAPPED deg(v)-sized
    * arrays per (t, v) — hub-squared row payloads at 100 TB. */
  private def cappedSuccessors(e: DataFrame, p: Int, q: Int, cap: Int,
                               hasHubs: Boolean)
      : (DataFrame, Option[DataFrame]) = {
    val succ0 = e.select(col("src").as("t"), col("dst").as("v"))
      .join(e.select(col("src").as("v"), col("dst").as("x")), Seq("v"))
    val flagged = weightedSuccessors(succ0, e, p, q)
    val wSpec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("t"), col("v"))
    val runningCum = (sum(col("w")).over(wSpec.orderBy(col("x"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)) - col("w")).as("cumb")
    if (!hasHubs) {
      // cnt(t, v) = out-deg(v) ≤ cap everywhere (the adjacency probe
      // already decided): ONE groupBy over the window output — its
      // (t, v) hash partitioning is reused, buffers provably ≤ cap
      val succT = flagged.select(col("t"), col("v"), col("x"),
          col("w"), runningCum)
        .groupBy(col("t"), col("v"))
        .agg(sum(col("w")).as("total"),
          sort_array(collect_list(struct(col("cumb"), col("x"))))
            .as("arr0"))
        .select(col("t"), col("v"), col("total"),
          transform(col("arr0"), en => en("cumb")).as("cumbs"),
          transform(col("arr0"), en => en("x")).as("xs"))
        .truncateLineage(false)
      (succT, None)
    } else {
      val (succT, hubB) = buildSuccessorTables(flagged, e, cap)
      (succT, Some(hubB))
    }
  }

  /** The (t, v, x) → integer-lattice weight projection shared by the
    * global and frontier-scoped successor builds: w = q if x = t
    * (return), p·q if x is a 1-hop neighbor of t (stay close), else p
    * (explore). `oneHop` is the edge frame consulted for the 1-hop
    * flag (the full frame, or a t-scoped slice — the join only tests
    * membership, so any superset of the needed (t, x) rows is
    * equivalent). */
  private def weightedSuccessors(succ0: DataFrame, oneHop: DataFrame,
                                 p: Int, q: Int): DataFrame =
    succ0.join(
        oneHop.select(col("src").as("t"), col("dst").as("x"),
          lit(true).as("is1")),
        Seq("t", "x"), "left")
      .select(col("t"), col("v"), col("x"),
        when(col("x") === col("t"), lit(q.toLong))
          .when(col("is1").isNotNull, lit(p.toLong * q.toLong))
          .otherwise(lit(p.toLong)).as("w"))

  /** The hub-capable successor-table build over weighted (t, v, x, w)
    * rows — shared by [[cappedSuccessors]]' hub branch and the
    * frontier-scoped per-step builds. Returns (succT, hubBuckets)
    * with the row shapes [[cappedSecondOrderLoop]] consumes; every
    * collect_list group is ≤ cap (normal states) or ≤ cap+1 (hub
    * weight windows), and the only unbounded-group operator is the
    * running-sum window — a streaming sort that spills instead of
    * buffering. */
  private def buildSuccessorTables(flagged: DataFrame, e: DataFrame,
                                   cap: Int): (DataFrame, DataFrame) = {
      val wSpec = org.apache.spark.sql.expressions.Window
        .partitionBy(col("t"), col("v"))
      val runningCum = (sum(col("w")).over(wSpec.orderBy(col("x"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)) - col("w")).as("cumb")
      // materialize the cumulated successor rows ONCE (three
      // consumers below — without the truncation each branch would
      // re-run the window chain)
      val withCum = flagged.select(col("t"), col("v"), col("x"),
          col("w"), runningCum,
          sum(col("w")).over(wSpec).as("total"),
          count(lit(1)).over(wSpec).as("cnt"))
        .truncateLineage(false)
      val normal = withCum.filter(col("cnt") <= cap)
        .groupBy(col("t"), col("v"))
        .agg(max(col("total")).as("total"),
          sort_array(collect_list(struct(col("cumb"), col("x"))))
            .as("arr0"))
        .select(col("t"), col("v"), lit(-1L).as("bucket"),
          col("total"),
          transform(col("arr0"), en => en("cumb")).as("cumbs"),
          transform(col("arr0"), en => en("x")).as("xs"))
      val hub = withCum.filter(col("cnt") > cap)
      val xsType = org.apache.spark.sql.types.ArrayType(
        e.schema("dst").dataType)
      val hubStates = hub.groupBy(col("t"), col("v"))
        .agg(max(col("total")).as("total"))
        .select(col("t"), col("v"), lit(-1L).as("bucket"),
          col("total"),
          lit(null).cast("array<bigint>").as("cumbs"),
          lit(null).cast(xsType).as("xs"))
      val hubBuckets = hub
        .select(col("t"), col("v"), col("x"), col("cumb"),
          explode(sequence(
            (col("cumb") / lit(cap)).cast("long"),
            ((col("cumb") + col("w") - 1) / lit(cap))
              .cast("long"))).as("bucket"))
        .groupBy(col("t"), col("v"), col("bucket"))
        .agg(sort_array(collect_list(struct(col("cumb"), col("x"))))
          .as("arr0"))
        .select(col("t"), col("v"), col("bucket"),
          lit(null).cast("bigint").as("total"),
          transform(col("arr0"), en => en("cumb")).as("cumbs"),
          transform(col("arr0"), en => en("x")).as("xs"))
      // ONE materialization for both outputs (bucket -1 = the
      // per-state row succT reads; buckets ≥ 0 = hub weight windows)
      val combined = normal.unionByName(hubStates)
        .unionByName(hubBuckets)
        .truncateLineage(false)
      val succT = combined.filter(col("bucket") === -1L)
        .select(col("t"), col("v"), col("total"), col("cumbs"),
          col("xs"))
      val hubB = combined.filter(col("bucket") >= 0L)
        .select(col("t"), col("v"), col("bucket"), col("cumbs"),
          col("xs"))
      (succT, hubB)
  }

  /** Second-order steps 2..k over the capped successor tables: draw
    * r = hash48(start|prev|cur|k|seed) mod total rides the succT
    * join; intervals are CONTIGUOUS, so the successor containing r
    * is the LAST entry whose cumulative start ≤ r — a counting scan
    * over a bounded primitive array in the normal row, or in the
    * single (r div cap) weight bucket for hub states (left join,
    * matched only there). One row per walker per step. */
  private def cappedSecondOrderLoop(walk0: DataFrame, acc0: DataFrame,
                                    succT: DataFrame,
                                    hubBuckets: Option[DataFrame],
                                    steps: Int, seed: String, cap: Int)
      : DataFrame = {
    var walk = walk0
    var acc = acc0
    (2 to steps).foreach { k =>
      walk = secondOrderPick(walk, succT, hubBuckets, k, seed, cap)
        .truncateLineage(false)
      acc = acc.union(
        walk.select(col("start"), lit(k).as("step"), col("cur")))
    }
    acc
  }

  /** ONE second-order step over given successor tables: the draw and
    * interval-pick grammar of [[cappedSecondOrderLoop]]'s body,
    * shared with the frontier-scoped loop. Emits one (start, prev,
    * cur) row per surviving walker. */
  private def secondOrderPick(walk: DataFrame, succT: DataFrame,
                              hubBuckets: Option[DataFrame], k: Int,
                              seed: String, cap: Int): DataFrame = {
    val r = pmod(h48walk(col("wk.start").cast("string"),
      col("wk.prev").cast("string"), col("wk.cur").cast("string"),
      lit(k.toString), lit(seed)), col("st.total"))
    val j1 = walk.alias("wk")
      .join(succT.alias("st"),
        col("wk.prev") === col("st.t") &&
          col("wk.cur") === col("st.v"))
      .select(col("wk.start").as("start"), col("wk.prev").as("prev"),
        col("wk.cur").as("cur"), col("st.xs").as("xs"),
        col("st.cumbs").as("cumbs"), r.as("r"))
    hubBuckets match {
      case None => // hubless: every state row carries its arrays
        j1.select(col("start"), col("cur").as("prev"),
          element_at(col("xs"),
            size(filter(col("cumbs"), c => c <= col("r"))))
            .as("cur"))
      case Some(hb) =>
        j1.alias("j1")
          .join(hb.alias("bk"),
            col("j1.prev") === col("bk.t") &&
              col("j1.cur") === col("bk.v") &&
              (col("j1.r") / lit(cap)).cast("long") ===
                col("bk.bucket"),
            "left")
          .select(col("j1.start").as("start"),
            col("j1.cur").as("prev"),
            when(col("j1.xs").isNotNull,
              element_at(col("j1.xs"),
                size(filter(col("j1.cumbs"),
                  c => c <= col("j1.r")))))
              .otherwise(element_at(col("bk.xs"),
                size(filter(col("bk.cumbs"),
                  c => c <= col("j1.r")))))
              .as("cur"))
    }
  }

  /** Frontier-scoped second-order loop — the seeded form's engine
    * (r17, guide §1.2): each step builds the capped successor tables
    * ONLY for the (prev, cur) states its walkers occupy — the states
    * frame joins the materialized edge frame for successors, the
    * 1-hop flag side is pre-scoped to the frontier's prev nodes, and
    * [[buildSuccessorTables]] runs over that walker-sized slice —
    * instead of precomputing the whole-graph Σ deg² table the
    * all-nodes form amortizes over |V| walkers. Per-step cost
    * ∝ Σ_frontier deg(cur) — the documented seeded contract. Draw
    * grammar identical to [[cappedSecondOrderLoop]] (the weights and
    * intervals of a (t, v) state are the same whether built globally
    * or from the state list): bit-identical output for any seed
    * set. */
  private def scopedSecondOrderLoop(walk1: DataFrame, acc0: DataFrame,
                                    e: DataFrame, p: Int, q: Int,
                                    steps: Int, seed: String, cap: Int)
      : DataFrame = {
    var walk = walk1
    var acc = acc0
    (2 to steps).foreach { k =>
      val states = walk.select(col("prev").as("t"), col("cur").as("v"))
        .distinct()
      val succ0 = states.join(
        e.select(col("src").as("v"), col("dst").as("x")), Seq("v"))
      // left-semi needs no distinct on its right side
      val tset = states.select(col("t"))
      val eT = e.join(tset, e("src") === tset("t"), "left_semi")
      val flagged = weightedSuccessors(succ0, eT, p, q)
      val (succT, hubB) = buildSuccessorTables(flagged, e, cap)
      walk = secondOrderPick(walk, succT, Some(hubB), k, seed, cap)
        .truncateLineage(false)
      acc = acc.union(
        walk.select(col("start"), lit(k).as("step"), col("cur")))
    }
    acc
  }

  /** In-engine skip-gram embedding training over (center, context,
    * label) examples — the final stage of the node2vec/DeepWalk
    * pipeline (walks → pairs → negatives → THIS), as FULL-BATCH
    * logistic gradient descent with negative sampling: per iteration,
    * score s = e(center)·c(context), residual r = σ(s) − label, and
    * the matrix updates E −= lr·Σ r·c, C −= lr·Σ r·e. Full-batch
    * (not SGD) on purpose: gradient sums are order-independent, so
    * the run is deterministic under any partitioning AND the DuckDB
    * oracle replays it — the [[graft.operators.TextClassify]]
    * logistic discipline applied to a two-matrix model: weights live
    * on the round-9 decimal lattice (decimal(14,9) — products stay
    * exactly representable), dot products and gradient sums are EXACT
    * decimal arithmetic, σ round-trips through one round(·, 9), and
    * the update term is one round(lr·g, 9). Init is hash-seeded
    * (hash48(node|j|E-or-C|seed) mod 2001 − 1000)/10⁴ ∈ [−0.1, 0.1].
    *
    * Duplicate examples fold into a count ONCE (r scales by cnt in
    * the gradient — identical math, |distinct examples| rows).
    *
    * Scale design: the MODEL is distributed (two d-column matrices as
    * (node, j) rows — |V|·d, never on the driver, unlike the
    * bounded-dim logistic trainer); each iteration is three keyed
    * shuffles (score sum per example, gradient sum per (node, j) for
    * E and C) with lineage truncated per round. Output: (node, j,
    * e_w, c_w) at round-6 display. */
  def trainNodeEmbeddings(examples: DataFrame, dim: Int, iters: Int,
                          lr: Double, seed: String = "e0"): DataFrame =
    trainLoop(examples, dim, iters, lr, seed)._1

  /** Convergence readout for [[trainNodeEmbeddings]]: the FULL-BATCH
    * log-loss the trainer observes at each iteration — one (iter,
    * loss) row per GD round, loss measured on the model state
    * ENTERING that round (iteration 1 = the hash-seeded init), so a
    * decreasing sequence IS the convergence curve a user tunes lr
    * and iters against. Same examples/dim/lr/seed → the exact run
    * [[trainNodeEmbeddings]] performs; the scoring pass is shared
    * with the gradient step, so the readout adds only one bounded
    * (1-row) aggregate per iteration.
    *
    * Exactness contract: per distinct example the loss term is
    * −ln σ̂ (label 1) / −ln(1−σ̂) (label 0) with σ̂ the trainer's own
    * round-9 sigmoid clamped to [1e-9, 1−1e-9] (so a saturated
    * example contributes the lattice fence, never ±∞); terms land on
    * the 1e-9 INTEGER lattice (round(t·1e9) longs — the house
    * cross-engine discipline for ln-based scores), weight by the
    * duplicate count in exact BIGINT arithmetic, and the loss is ONE
    * final fixed-shape double division — the DuckDB oracle replays
    * every digit. */
  def trainNodeEmbeddingsLoss(examples: DataFrame, dim: Int,
                              iters: Int, lr: Double,
                              seed: String = "e0"): DataFrame =
    trainLoop(examples, dim, iters, lr, seed)._2

  private[graft] def trainLoop(examples: DataFrame, dim: Int,
                               iters: Int, lr: Double, seed: String)
      : (DataFrame, DataFrame) = {
    require(dim >= 1 && dim <= 64, "dim must be in [1, 64]")
    require(iters >= 1, "iters must be >= 1")
    require(lr > 0, "lr must be positive")
    require(!seed.contains("|"), "seed must not contain '|'")
    def h48(cols: org.apache.spark.sql.Column*)
        : org.apache.spark.sql.Column =
      conv(substring(md5(concat_ws("|", cols: _*)), 1, 12), 16, 10)
        .cast("long")
    // cnt on decimal(10,0): a (center, context, label) group of up to
    // 10^10 duplicates stays exact — decimal(5,0) silently nulled (and
    // so dropped from the gradient sum) past 99,999 under non-ANSI
    // arithmetic, exactly at the scale this operator is pitched for.
    // rc below widens to decimal(19,9) to hold |σ−label|·cnt < cnt.
    val ex = examples
      .select(col("center"), col("context"),
        col("label").cast("int").as("label"))
      .groupBy(col("center"), col("context"), col("label"))
      .agg(count(lit(1)).cast("decimal(10,0)").as("cnt"))
      .truncateLineage(false)
    val vocab = ex.select(col("center").as("node"))
      .union(ex.select(col("context").as("node"))).distinct()
    def init(tag: String) =
      round((h48(col("node").cast("string"), col("j").cast("string"),
        lit(tag), lit(seed)) % 2001 - 1000).cast("double") / 10000.0, 9)
        .cast("decimal(14,9)")
    var emb = vocab
      .select(col("node"),
        explode(sequence(lit(0), lit(dim - 1))).as("j"))
      .select(col("node"), col("j"),
        init("E").as("ew"), init("C").as("cw"))
      .truncateLineage(false)
    val zero = lit(0).cast("decimal(14,9)")
    val losses = collection.mutable.Buffer.empty[DataFrame]
    (1 to iters).foreach { i =>
      val eRows = emb.select(col("node").as("center"), col("j"),
        col("ew"))
      val cRows = emb.select(col("node").as("context"), col("j"),
        col("cw"))
      // σ(e·c) per distinct example (round-9, the logreg discipline).
      // The score join is read by the loss aggregate AND the gradient
      // residuals, and is recomputed, not checkpointed: materializing
      // the example-sized frames per iteration measured 1.71× slower
      // at 4M examples (BASELINE.md, "trainLoop recompute beats
      // checkpoint AT SCALE").
      val scoredSig = ex
        .join(eRows, Seq("center")).join(cRows, Seq("context", "j"))
        .groupBy(col("center"), col("context"), col("label"),
          col("cnt"))
        .agg(sum(col("ew") * col("cw")).as("sRaw"))
        .select(col("center"), col("context"), col("label"),
          col("cnt"),
          round(lit(1.0) /
              (lit(1.0) + exp(-col("sRaw").cast("double"))), 9)
            .cast("decimal(14,9)").as("sig"))
      // this round's log-loss (model state ENTERING the round): the
      // clamped-sigmoid ln terms on the 1e-9 integer lattice, weighted
      // by the duplicate count in exact longs, ONE final division
      val sigc = least(
        greatest(col("sig"), lit("0.000000001").cast("decimal(14,9)")),
        lit("0.999999999").cast("decimal(14,9)")).cast("double")
      val term = when(col("label") === 1, -log(sigc))
        .otherwise(-log(lit(1.0) - sigc))
      losses += scoredSig
        .agg(sum(col("cnt").cast("long") *
          round(term * 1e9).cast("long")).as("u"))
        .select(lit(i).as("iter"),
          (col("u").cast("double") / 1e9).as("loss"))
      // rc = (σ − label)·cnt back on the lattice (scale stays 9: the
      // cnt factor is integral; precision 19 holds |rc| < cnt)
      val scored = scoredSig
        .select(col("center"), col("context"),
          ((col("sig") - col("label").cast("decimal(14,9)"))
            * col("cnt")).cast("decimal(19,9)").as("rc"))
      val withVecs = scored
        .join(eRows, Seq("center")).join(cRows, Seq("context", "j"))
      // BOTH gradient matrices in ONE aggregate (r17, guide §2.4):
      // each example row explodes into its two (node, role) gradient
      // terms and one groupBy(node, j) sums them per role — the
      // example×dim join chain evaluates ONCE per iteration instead
      // of once per matrix, and the model update is ONE left join.
      // Same addends, exact decimal sums → identical dE/dC.
      val grads = withVecs
        .select(explode(array(
            struct(col("center").as("node"), col("j"),
              (col("rc") * col("cw")).as("t"), lit(true).as("isE")),
            struct(col("context").as("node"), col("j"),
              (col("rc") * col("ew")).as("t"), lit(false).as("isE"))))
          .as("x"))
        .select(col("x.node").as("node"), col("x.j").as("j"),
          col("x.t").as("t"), col("x.isE").as("isE"))
        .groupBy(col("node"), col("j"))
        .agg(sum(when(col("isE"), col("t"))).as("gE"),
          sum(when(!col("isE"), col("t"))).as("gC"))
        .select(col("node"), col("j"),
          round(col("gE").cast("double") * lr, 9)
            .cast("decimal(14,9)").as("dE"),
          round(col("gC").cast("double") * lr, 9)
            .cast("decimal(14,9)").as("dC"))
      emb = emb
        .join(grads, Seq("node", "j"), "left")
        .select(col("node"), col("j"),
          (col("ew") - coalesce(col("dE"), zero))
            .cast("decimal(14,9)").as("ew"),
          (col("cw") - coalesce(col("dC"), zero))
            .cast("decimal(14,9)").as("cw"))
        .truncateLineage(false)
    }
    (emb.select(col("node"), col("j"),
       round(col("ew").cast("double"), 6).as("e_w"),
       round(col("cw").cast("double"), 6).as("c_w")),
     losses.reduce(_ unionByName _))
  }

  /** Skip-gram training pairs from a walk corpus — the
    * node2vec/DeepWalk data step: for every walk (one per `startCol`
    * value) and every position pair within `window` steps, emit
    * (center, context). Output: (start, center_step, context_step,
    * center, context) — one row per directed pair, both directions
    * (the standard skip-gram corpus; contexts before AND after the
    * center).
    *
    * One-walk-per-start contract, enforced LOUDLY: a corpus holding
    * several walks that share a `startCol` value (e.g. n walks per
    * node unioned without a distinguishing walk id) would silently
    * merge into one position list with duplicate step values and emit
    * cross-walk pairs — so the aggregate also counts rows vs distinct
    * steps per start and a per-row assert fails the job on any
    * duplicate (start, step). Multi-walk corpora must key each walk
    * uniquely (e.g. concat the walk index into the start id) before
    * pairing.
    *
    * Scale design: ONE shuffle — walks group into their ordered
    * position array (walks are `steps+1` positions, a bounded row) —
    * then pair generation is a pure per-row nested-`transform`
    * projection + one explode; no self-join, nothing all-pairs. */
  def walkPairs(walks: DataFrame, window: Int,
                startCol: String = "start", stepCol: String = "step",
                nodeCol: String = "node"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val grouped = walks
      .groupBy(col(startCol).as("start"))
      .agg(sort_array(collect_list(struct(
        col(stepCol).cast("int").as("step"),
        col(nodeCol).as("node")))).as("w"),
        count(lit(1)).as("__n"),
        count_distinct(col(stepCol)).as("__nd"))
      .select(col("start"), col("w"),
        assert_true(col("__n") === col("__nd"),
          concat(lit("walk_pairs: duplicate (start, step) rows at " +
            "start="), col("start").cast("string"),
            lit(" — one walk per start; key multi-walk corpora by a " +
              "distinct walk id before pairing"))).as("__ok"))
      .filter(col("__ok").isNull).drop("__ok")
    grouped
      .select(col("start"), explode(flatten(transform(col("w"),
        c => transform(
          filter(col("w"), x => x("step") =!= c("step") &&
            abs(x("step") - c("step")) <= window),
          x => struct(c("step").as("center_step"),
            x("step").as("context_step"),
            c("node").as("center"),
            x("node").as("context")))))).as("p"))
      .select(col("start"), col("p.center_step"),
        col("p.context_step"), col("p.center"), col("p.context"))
  }

  /** Deterministic skip-gram NEGATIVE sampling over a [[walkPairs]]
    * corpus — the word2vec/node2vec training-data step that pairs
    * every positive with `k` uniform draws from the vocabulary. The
    * draw is hash-seeded, not an RNG: negative j of a positive is the
    * vocabulary node at rank `hash48(start|center_step|context_step|
    * j|seed) mod |V|` — same seed, bit-identical negatives under any
    * partitioning or retry (the replayable-training-data property the
    * walk family carries throughout), and the DuckDB oracle replays
    * every draw. Vocabulary = distinct center ∪ context of the pairs
    * corpus itself. Per classic word2vec, draws are NOT rejected when
    * they collide with a true context (unigram noise contract);
    * collisions are rare at realistic |V| and a reject loop would
    * break the fixed-draw-count shape trainers expect.
    *
    * Scale design: the vocabulary rank is BUCKETED, never a global
    * single-partition sort — rank = bucket offset + row_number within
    * the node's hash bucket (the window partitions by bucket), and
    * the only driver state is the ≤`buckets`-entry size map (bounded
    * by construction). Negatives then come from ONE equi-join of the
    * exploded draws against the ranked vocabulary. Output: (start,
    * center_step, context_step, neg_index, center, negative). */
  def skipGramNegatives(pairs: DataFrame, k: Int, seed: String,
                        buckets: Int = 256): DataFrame =
    // the pairs corpus has TWO consumers — the vocabulary (forced
    // eagerly by the bucket-size probe below) and the draws — so
    // materialize it once instead of re-running the upstream
    // walk/pair chain for each (r17, guide §5 caching-when-reused)
    skipGramNegativesOn(pairs.truncateLineage(false), k, seed, buckets)

  /** The full skip-gram EXAMPLE table (positives labeled 1 + the k
    * hash-seeded negatives labeled 0) — the shape the embedding
    * trainer consumes. One materialization of the pairs corpus serves
    * all three reads (the positives projection, the vocabulary probe
    * and the draw side), where composing the two operators by hand
    * would evaluate the upstream walk/pair chain twice. Bit-identical
    * rows to that composition (r17, guide §5). */
  def skipGramExamples(pairs: DataFrame, k: Int, seed: String,
                       buckets: Int = 256): DataFrame = {
    val pairsM = pairs.truncateLineage(false)
    pairsM
      .select(col("center"), col("context"), lit(1).as("label"))
      .unionByName(skipGramNegativesOn(pairsM, k, seed, buckets)
        .select(col("center"), col("negative").as("context"),
          lit(0).as("label")))
  }

  private def skipGramNegativesOn(pairsM: DataFrame, k: Int,
                                  seed: String, buckets: Int)
      : DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(!seed.contains("|"), "seed must not contain '|'")
    require(buckets >= 1, "buckets must be >= 1")
    def h48(cols: org.apache.spark.sql.Column*)
        : org.apache.spark.sql.Column =
      conv(substring(md5(concat_ws("|", cols: _*)), 1, 12), 16, 10)
        .cast("long")
    val vocab = pairsM.select(col("center").as("node"))
      .union(pairsM.select(col("context").as("node"))).distinct()
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("node"))
    val inBucket = vocab
      .withColumn("bucket",
        pmod(h48(col("node").cast("string")), lit(buckets.toLong)))
      .withColumn("rn", row_number().over(wB))
      .truncateLineage(false)
    val sizes = inBucket.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = sizes.values.sum
    require(n > 0, "skipGramNegatives: empty vocabulary")
    // offsets in bucket-id order: rank = offset(bucket) + rn is the
    // position in (bucket, node) lexicographic order
    val sorted = sizes.toSeq.sortBy(_._1)
    val offsets = sorted.map(_._1)
      .zip(sorted.map(_._2).scanLeft(0L)(_ + _).init).toMap
    // r16: the offsets attach via a broadcast join against the
    // ≤`buckets`-row table instead of an O(buckets)-deep CASE WHEN
    // evaluated per vocabulary row (the nested-when tree also made
    // codegen compile a ~256-level expression per query)
    val spark0 = pairsM.sparkSession
    import spark0.implicits._
    val offDf = offsets.toSeq.toDF("bucket", "off")
    val ranked = inBucket
      .join(broadcast(offDf), Seq("bucket"))
      .select(col("node"), (col("rn") + col("off")).as("rank"))
    val draws = pairsM
      .select(col("start"), col("center_step"), col("context_step"),
        col("center"),
        explode(sequence(lit(0), lit(k - 1))).as("neg_index"))
      .withColumn("rank",
        pmod(h48(col("start").cast("string"),
          col("center_step").cast("string"),
          col("context_step").cast("string"),
          col("neg_index").cast("string"), lit(seed)), lit(n)) + 1)
    draws.join(ranked, Seq("rank"))
      .select(col("start"), col("center_step"), col("context_step"),
        col("neg_index"), col("center"), col("node").as("negative"))
  }

  /** HyperBall harmonic centrality (Boldi & Vigna 2013, public
    * algorithm): H(v) ≈ Σ_{k=1..iters} (|B_k(v)| − |B_{k−1}(v)|)/k,
    * where B_k(v) is the ball of nodes within k hops of v (incoming
    * hops when `undirected = false` — the classic harmonic
    * orientation: who can REACH v) and |·| is the HLL estimate from
    * per-node registers on the house md5 grammar
    * ([[Stats.hllRegisterRows]]).
    *
    * Exactness contract: register max-merge along edges IS set union,
    * so after k rounds each node holds exactly the registers of its
    * true k-ball — the only approximation is the final cardinality
    * estimate, a deterministic fixed-shape function of the registers.
    * That estimate is NOT monotone across the linear-counting/raw
    * branch switch (a ball one element larger can estimate slightly
    * smaller near the 2.5m threshold), so per-radius deltas are
    * clamped at 0 before weighting — a shrinking estimate contributes
    * nothing rather than a negative harmonic term. Ball estimates
    * land on the 1e-6 integer lattice and the harmonic sum is
    * computed in EXACT integer arithmetic scaled by lcm(1..iters), so
    * the result is bit-stable under any partitioning and externally
    * replicable (the oracle unrolls the same rounds — including the
    * clamp — in SQL).
    *
    * Scale design: per-node state is ≤ m = 2^b registers regardless
    * of ball size — THE HyperBall property; registers travel as one
    * packed m-slot array per node, so each round is one
    * edges⋈registers join (one array row per edge) plus one keyed
    * slot-wise max-aggregate with map-side partials, lineage
    * truncated per round. b = 4 (m = 16,
    * ±26% ball error — ranking-grade) keeps the join fan-out small;
    * b = 8 trades 16× state for ±6.5%. Output: (node,
    * harmonic, ball) with ball = |B_iters(v)| estimate. */
  def harmonicCentrality(edges: DataFrame, srcCol: String,
                         dstCol: String, iters: Int = 3, b: Int = 4,
                         undirected: Boolean = true): DataFrame = {
    val balls = hyperBallEstimates(edges, srcCol, dstCol, iters, b,
      undirected)
    val scale = (1 to iters).foldLeft(1L)((acc, k) =>
      acc / gcd(acc, k) * k) // lcm(1..iters)
    val harmonicUnits = (1 to iters).map(k =>
        greatest(col(s"e$k") - col(s"e${k - 1}"), lit(0L)) *
          lit(scale / k))
      .reduce(_ + _)
    balls.select(col("node"),
      (harmonicUnits.cast("double") / lit(scale.toDouble * 1e6))
        .as("harmonic"),
      (col(s"e$iters").cast("double") / lit(1e6)).as("ball"))
  }

  /** The HyperBall neighborhood function: N(k) = Σ_v |B_k(v)| — the
    * number of (ordered) node pairs within k hops — one row per
    * radius 0..iters, with `frac` = N(k)/N(iters). The effective
    * diameter at quantile q is the smallest k with frac ≥ q: with the
    * default 3–5 rounds this is the whole "how small is the world"
    * report for a crawl graph, at the same bounded-state cost as
    * [[harmonicCentrality]] (per-node estimate rows sum as EXACT
    * longs, so the oracle replicates every row digit-for-digit). */
  def neighborhoodFunction(edges: DataFrame, srcCol: String,
                           dstCol: String, iters: Int = 3, b: Int = 4,
                           undirected: Boolean = true): DataFrame = {
    val balls = hyperBallEstimates(edges, srcCol, dstCol, iters, b,
      undirected)
    val sums = balls.agg(
      sum(col("e0")).as("s0"),
      (1 to iters).map(k => sum(col(s"e$k")).as(s"s$k")): _*)
    val perK = (0 to iters).map(k =>
      struct(lit(k).as("k"), col(s"s$k").as("units")))
    sums.select(explode(array(perK: _*)).as("r"))
      .select(col("r.k").as("k"),
        (col("r.units").cast("double") / lit(1e6)).as("nf"))
      .crossJoin(broadcast(sums.select(col(s"s$iters").as("__last"))))
      .select(col("k"), col("nf"),
        (col("nf") / (col("__last").cast("double") / lit(1e6)))
          .as("frac"))
  }

  /** HyperBall closeness centrality within the iteration horizon:
    * T(v) = Σ_{k=1..iters} k·(|B_k(v)| − |B_{k−1}(v)|) estimates the
    * total distance from v to everything it reaches within `iters`
    * hops, and closeness = R(v) / T(v) with R(v) = Σ_k ΔE_k — the
    * reciprocal of the mean distance to reached nodes (0 when the
    * ball never grows). Same exact-integer lattice discipline as
    * [[harmonicCentrality]], including the per-radius delta clamp at
    * 0 (the HLL estimate is not monotone across the linear-counting/
    * raw branch switch): T sums clamped ΔE units as longs weighted by
    * radius, R sums the same clamped units unweighted, the two double
    * divisions are the only float ops, so the oracle replicates
    * digit-for-digit. Output: (node, closeness, total_distance,
    * ball). */
  def closenessCentrality(edges: DataFrame, srcCol: String,
                          dstCol: String, iters: Int = 3, b: Int = 4,
                          undirected: Boolean = true): DataFrame = {
    val balls = hyperBallEstimates(edges, srcCol, dstCol, iters, b,
      undirected)
    val deltas = (1 to iters).map(k =>
      greatest(col(s"e$k") - col(s"e${k - 1}"), lit(0L)))
    val tUnits = deltas.zip(1 to iters)
      .map { case (d, k) => d * lit(k.toLong) }.reduce(_ + _)
    val reachedUnits = deltas.reduce(_ + _)
    balls.select(col("node"),
      when(tUnits > lit(0L),
        reachedUnits.cast("double") / tUnits.cast("double"))
        .otherwise(lit(0.0)).as("closeness"),
      (tUnits.cast("double") / lit(1e6)).as("total_distance"),
      (col(s"e$iters").cast("double") / lit(1e6)).as("ball"))
  }

  /** Shared HyperBall core: per-node ball-estimate units at every
    * radius 0..iters — (node, e0..eiters) with each eK the HLL
    * estimate of |B_K(v)| on the 1e-6 integer lattice.
    *
    * r16 optimization (guide §2.3, shuffle fewer bytes / fewer rows):
    * registers travel as ONE packed m-slot int array per node (0 =
    * absent; real rho ≥ 1) instead of ≤ m (node, bucket, rho) rows.
    * Each round's merge is a single groupBy(node) of m `max` aggregates
    * over array slots — partial (map-side) aggregation applies, where
    * the row form shuffled every register row; and the per-radius
    * estimate is a narrow per-row expression over the array (exact
    * integer n_reg / s_present — identical values to the row form,
    * oracle-pinned), eliminating the second per-round
    * groupBy(node) shuffle the row form paid for `estFrame`. Measured
    * at sf0.1 (q_graph_harmonic band): see OPTIMIZATION_r16.md. */
  private def hyperBallEstimates(edges: DataFrame, srcCol: String,
                                 dstCol: String, iters: Int, b: Int,
                                 undirected: Boolean): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(b == 4 || b == 8,
      "b must be 4 or 8 (m = 16 or 256 registers per node)")
    val m = 1 << b
    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val adj = (if (undirected)
        fwd.union(edges.select(col(dstCol).as("src"),
          col(srcCol).as("dst")))
      else fwd)
      .filter(col("src") =!= col("dst")).distinct()
      .truncateLineage(false)
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node"))).distinct()

    // singleton-ball register array {v}: the node's own hash on the
    // house md5 grammar (same bucket/rho derivation as
    // Stats.hllRegisterRows), packed one-hot into m slots
    val hexChars = b / 4
    val h = md5(col("node").cast("string"))
    val bucketC = conv(substring(h, 1, hexChars), 16, 10).cast("int")
    val wC = conv(substring(h, hexChars + 1, 12), 16, 10).cast("long")
    val rhoC = when(wC === 0L, lit(49))
      .otherwise(lit(49) - length(bin(wC))).cast("int")
    // exact-integer estimate inputs from the packed array: present
    // slots (> 0) count as registers and contribute 2^(49 − rho)
    val nRegC = expr("size(filter(regs, r -> r > 0))").cast("long")
    val sPresentC = expr("aggregate(regs, cast(0 as bigint), " +
      "(acc, r) -> acc + if(r > 0, " +
      "shiftleft(cast(1 as bigint), 49 - r), cast(0 as bigint)))")
    def estFrame(regsArr: DataFrame, k: Int): DataFrame =
      regsArr.select(col("node"), nRegC.as("n_reg"),
          sPresentC.as("s_present"))
        .select(col("node"), Stats.hllEstimateUnits(b).as(s"e$k"))

    var regs = nodes.select(col("node"),
        transform(sequence(lit(0), lit(m - 1)),
          i => when(i === bucketC, rhoC).otherwise(lit(0))).as("regs"))
      .truncateLineage(false)
    var balls = estFrame(regs, 0)
    (1 to iters).foreach { k =>
      val received = adj.join(regs, adj("src") === regs("node"))
        .select(adj("dst").as("node"), col("regs"))
      // codegen note (r17): the merge is m slot-wise max aggregates;
      // at b = 8 that is 256 aggregate expressions — past
      // spark.sql.codegen.maxFields (100), so whole-stage codegen
      // falls back to interpreted aggregation for b = 8 callers
      // (declared queries use b = 4 → 16 slots, codegen'd). Raise
      // the conf, or fold the merge into one zip_with binary max,
      // only if a b = 8 path becomes hot.
      regs = regs.select(col("node"), col("regs")).union(received)
        .groupBy(col("node"))
        .agg(array((0 until m).map(i =>
          max(element_at(col("regs"), i + 1))): _*).as("regs"))
        .truncateLineage(false)
      balls = balls.join(estFrame(regs, k), Seq("node"))
    }
    balls
  }

  private def gcd(a: Long, bb: Long): Long =
    if (bb == 0) a else gcd(bb, a % bb)

  /** Hop-bounded weighted shortest paths (Bellman–Ford relaxation):
    * dist(v) = minimum total edge weight over any path of ≤ `maxHops`
    * hops from the seed set — the weighted complement to
    * [[bfsDistances]] (crawl latency/cost radius instead of hop
    * radius). Weights must be non-negative INTEGERS (house
    * integer-lattice discipline — distances accumulate as exact
    * longs; pre-scale fractional costs to a lattice, e.g. ×1e6). A
    * negative or fractional weight fails loudly in-plan; multi-edges
    * collapse to their minimum weight before the loop. Nodes no
    * ≤-maxHops path reaches are absent.
    *
    * Scale design: round k is ONE shuffle — the current distance
    * frame (≤ one row per reached node) joins the min-collapsed
    * adjacency list and re-minimizes by node; lineage truncates per
    * round, nothing corpus-sized reaches the driver. After k rounds
    * the frame holds EXACTLY min-over-walks-of-≤-k-hops, which is
    * what the oracle's recursive enumeration computes. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, seeds: DataFrame,
                    seedCol: String, maxHops: Int,
                    undirected: Boolean = true): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).as("w"))
    val both =
      if (undirected)
        fwd.union(edges.select(col(dstCol).as("src"),
          col(srcCol).as("dst"), col(weightCol).as("w")))
      else fwd
    // min-collapse multi-edges on the weight cast to DOUBLE first: a
    // string-typed weight column would otherwise min() LEXICOGRAPHIC
    // (min("10","9") = "10" — silently wrong), and integral-valued
    // strings still pass the gate below. Double is non-truncating on
    // the gate's admissible range (non-negative integers ≤ 2^53, far
    // past any hop-bounded path cost); the per-row assert is the loud
    // negative/fractional-weight gate (assert_true is null on pass)
    val adj = both.filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(min(col("w").cast("double")).as("wRaw"))
      .select(col("src"), col("dst"),
        col("wRaw").cast("long").as("w"),
        assert_true(
          col("wRaw") >= 0 && col("wRaw").cast("long") === col("wRaw"),
          lit("shortestPaths: edge weights must be non-negative " +
            "integers (pre-scale fractional costs to an integer " +
            "lattice)")).as("__ok"))
      .filter(col("__ok").isNull).drop("__ok", "wRaw")
      .truncateLineage(false)

    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).truncateLineage(false)
    (1 to maxHops).foreach { _ =>
      val relaxed = adj.join(dist, adj("src") === dist("node"))
        .select(adj("dst").as("node"),
          (col("dist") + col("w")).as("dist"))
      dist = dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .truncateLineage(false)
    }
    dist
  }

  /** Multi-source BFS: minimum hop count from any seed node, out to
    * `maxHops` — reachability with provenance radius (how many link
    * steps a page sits from a trusted seed set), the unweighted
    * complement to [[personalizedPageRank]]'s proximity mass.
    *
    * Semantics: dist(v) = min hops from ANY seed over the (optionally
    * symmetrized) distinct edge set; seeds are dist 0; nodes the
    * frontier never reaches within `maxHops` are ABSENT from the
    * output. Self-loops are dropped (they never change a BFS
    * distance). Node keys keep the edge columns' native type; seeds
    * must be the same type (callers cast upstream).
    *
    * Scale design: hop k is ONE shuffle — the frontier (nodes FIRST
    * reached at hop k−1, never the full visited set) joins the
    * checkpointed adjacency list keyed by source, dedups by node, and
    * anti-joins the visited set. Work per hop ∝ edges incident to the
    * frontier; nothing is ever all-pairs and nothing corpus-sized
    * reaches the driver (the per-hop early-exit probe is one boolean
    * `isEmpty` action on an already-truncated frame). Visited grows
    * monotonically and truncates lineage per hop, so the plan stays
    * O(1) deep at any hop count. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String, maxHops: Int,
                   undirected: Boolean = true): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val oriented =
      if (undirected)
        fwd.union(edges.select(col(dstCol).as("src"),
          col(srcCol).as("dst")))
      else fwd
    // distinct: BFS only cares about edge EXISTENCE, and the per-hop
    // frontier join fans out per duplicate edge otherwise
    val adj = oriented.filter(col("src") =!= col("dst"))
      .distinct().truncateLineage(false)

    var visited = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0)).truncateLineage(false)
    var frontier = visited.select("node")
    var hop = 1
    var exhausted = frontier.isEmpty
    while (hop <= maxHops && !exhausted) {
      val next = frontier.join(adj,
          frontier("node") === adj("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .truncateLineage(false)
      if (next.isEmpty) exhausted = true
      else {
        visited = visited
          .union(next.withColumn("dist", lit(hop)))
          .truncateLineage(false)
        frontier = next
      }
      hop += 1
    }
    visited
  }
}
