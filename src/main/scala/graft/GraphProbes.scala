package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Probe.{Def, Run}
import graft.operators.Checkpoints.TruncateOps
import graft.operators.Graph

/** Scale probes of the graph and walk operators, run through [[Probe]],
  * on generated graphs (no tables): the size is a node count or a hub
  * degree. */
object GraphProbes {
  /** The graph operators (BASELINE.md "Graph analytics scale behavior"
    * and the HyperBall row) on a deterministic Holme–Kim-style growth
    * graph of `size` nodes — no RNG, hash-based attachment: node i
    * attaches to m = 4 targets h(i,k) mod i (uniform recursive
    * attachment, so early nodes become hubs, degree ~ m·ln n skew) and
    * closes the triad between its first two targets, so triangle volume
    * grows ~linearly with n and the degree-ordered wedge join sees real
    * hub skew. All three should scale ~linearly in edges: triangles
    * because orientation bounds wedge fan-out by out-degree, PageRank
    * because each iteration is one keyed shuffle, HyperBall because its
    * state is capped at 2^b·nodes register rows (the groupBy(node,
    * bucket) aggregate) while the estimated 3-ball mass grows
    * superlinearly. */
  val graph = Def("graph", Seq("20000", "80000", "320000")) { r =>
    val m = 4
    val attach = r.spark.range(m.toLong, r.n.toLong)
      .select(col("id").as("src"),
        explode(sequence(lit(0), lit(m - 1))).as("k"))
      .select(col("src"),
        pmod(xxhash64(col("src"), col("k")), col("src")).as("dst"))
    val triadClose = r.spark.range(m.toLong, r.n.toLong)
      .select(pmod(xxhash64(col("id"), lit(0)), col("id")).as("src"),
        pmod(xxhash64(col("id"), lit(1)), col("id")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val e = attach.union(triadClose).localCheckpoint(true)
    // memberships = 3·triangles
    r.timed("triangles")(Graph.triangleCounts(e, "src", "dst")
        .agg(sum(col("triangles"))).first().getLong(0))(
      memb => Seq("edges" -> e.count(), "triangles" -> memb / 3))
    // rank mass ≤ 1: the dangling leak
    r.timed("pagerank")(Graph.pageRank(e, "src", "dst", iters = 3)
      .agg(sum(col("rank"))).first().getDouble(0))(mass => Seq("mass" -> mass))
    val b = 4
    r.timed("hyperball")(Graph.harmonicCentrality(e, "src", "dst",
        iters = 3, b = b).agg(sum(col("ball")), count(lit(1))).first()) {
      hb => Seq("ball_mass" -> hb.getDouble(0),
        "state_cap" -> (1L << b) * hb.getLong(1))
    }
  }

  private def star(r: Run, d: Int): DataFrame = r.spark.range(1L, d + 1L)
    .select(lit(0L).as("src"), col("id").as("dst")).localCheckpoint(true)
  private def seedsOf(r: Run, n: Int): DataFrame = r.spark.range(1L, n + 1L)
    .select(col("id").as("node")).localCheckpoint(true)
  private def rows(df: DataFrame): Set[(Long, Int, Long)] =
    df.collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
  private def h48(cols: Column*): Column =
    conv(substring(md5(concat_ws("|", cols: _*)), 1, 12), 16, 10).cast("long")
  private val seed = "wp"

  /** Hub-degree-proofness of the first-order walks (BASELINE.md
    * "Seeded-walk hub probe" and the all-nodes sweep) on a star — hub 0
    * joined to spokes 1..size.
    *
    * `seeded_join` / `seeded_bucketed`: 64 walkers seeded on spokes, 4
    * steps. Every walk bounces spoke → hub → spoke, so at every odd step
    * the WHOLE frontier sits on the hub: the worst case for the
    * join-then-filter pick, which materializes walkers × D join rows per
    * step to keep `walkers` of them. The bucketed `element_at` form of
    * [[Graph.seededWalks]] touches one (src, bucket) row per walker per
    * step, so it must stay FLAT as D grows 100× while the join form —
    * [[Graph.deterministicWalks]]' exact loop started from the seeds,
    * what a pre-seededWalks user would compose — grows ~linearly in D.
    *
    * `all_nodes`: the capped all-nodes [[Graph.deterministicWalks]]
    * (walkers = all D+1 nodes). Uncapped deg-sized adjacency arrays
    * dragged a D-entry payload through each step for every spoke walker
    * at the hub; the capped machinery bounds every array row by the
    * bucket cap, so µs per walker-step must stay flat as D grows.
    *
    * Check: the seeded forms give bit-identical walks (shared hash
    * grammar) at every size; at the first size both also equal the
    * all-nodes operator restricted to the seeds, and the all-nodes form
    * equals seededWalks over all nodes. */
  val walk = Def("walk", Seq("10000", "100000", "1000000")) { r =>
    val (nWalkers, steps) = (64, 4)
    require(r.n >= nWalkers, s"hub degree must be >= $nWalkers: the " +
      "walkers are seeded on spokes")
    val edges = star(r, r.n)
    val seeds = seedsOf(r, nWalkers)
    // deterministicWalks' join-filter loop over seeded starts (Graph's
    // pick grammar verbatim)
    def joinSeeded: DataFrame = {
      val oriented = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val w = Window.partitionBy(col("src"))
      val adj = oriented.filter(col("src") =!= col("dst")).distinct()
        .select(col("src"), col("dst"),
          row_number().over(w.orderBy(col("dst"))).as("idx"),
          count(lit(1)).over(w).as("deg"))
      var wk = seeds.select(col("node").as("start"), col("node"))
      var acc = wk.select(col("start"), lit(0).as("step"), col("node"))
      (1 to steps).foreach { k =>
        val pick = pmod(h48(col("start").cast("string"),
          col("node").cast("string"), lit(k.toString), lit(seed)),
          col("deg")) + 1
        wk = wk.join(adj, wk("node") === adj("src")).filter(col("idx") === pick)
          .select(col("start"), col("dst").as("node"))
        acc = acc.union(wk.select(col("start"), lit(k).as("step"), col("node")))
      }
      acc
    }
    val fields = Seq("walkers" -> nWalkers, "steps" -> steps)
    val joined = r.timed("seeded_join")(rows(joinSeeded))(_ => fields)
    val bucketed = r.timed("seeded_bucketed")(rows(Graph.seededWalks(edges,
      "src", "dst", seeds, "node", steps, seed, bucketCap = 1024)))(_ => fields)
    require(bucketed == joined,
      s"bucketed walks diverged from the join form at D=${r.n}")
    def allNodes = Graph.deterministicWalks(edges, "src", "dst", steps, seed)
    if (r.first) {
      val all = rows(allNodes)
      require(all.filter(t => t._1 >= 1 && t._1 <= nWalkers) == bucketed,
        "seeded forms diverged from deterministicWalks")
      require(all == rows(Graph.seededWalks(edges, "src", "dst",
          r.spark.range(0L, r.n + 1L).select(col("id").as("node")),
          "node", steps, seed)),
        s"capped all-nodes walks diverged from seededWalks at D=${r.n}")
    }
    r.timed("all_nodes")(
        allNodes.write.format("noop").mode("overwrite").save()) {
      _ => Seq("walkers" -> (r.n + 1), "steps" -> steps,
        "us_per_walker_step" ->
          r.wall("all_nodes") * 1e6 / ((r.n + 1).toDouble * steps))
    }
  }

  /** Second-order (p = 1, q = 4) seeded walks (BASELINE.md
    * "Second-order walker-sweep probe") on a star of hub degree `size`,
    * sweeping the FRONTIER: 512 and 4096 walkers. Unlike first order
    * (bucket table O(E/cap + V), so the whole step is walker-bounded),
    * BOTH second-order forms stream the Σ deg² alias table every step —
    * the documented second-order price (on a star, D² entries, which
    * also bounds the feasible D). What the bucketed pick of
    * [[Graph.node2vecSeededWalks]] removes is the OUTPUT term: the join
    * form materializes walkers × D rows per hub draw, the bucketed form
    * `walkers` rows. Each form runs 2 and 12 steps; `slope_s` on the
    * 12-step line, (wall(12) − wall(2)) / 10, is the per-step cost with
    * the shared build subtracted out. The join slope must grow ~linearly
    * in walkers while the bucketed slope stays FLAT.
    *
    * Check: both forms give identical walks in every timed run. */
  val walkSecondOrder = Def("walk_second_order", Seq("2000")) { r =>
    val (p, q, cap) = (1, 4, 64)
    val edges = star(r, r.n)
    // node2vecWalks' esucc + interval-filter loop verbatim (incl. its
    // lineage truncation — without it the Σ deg² window chain would
    // re-evaluate per step and the probe would measure plan blowup, not
    // the join), started from a seed slice
    def joinSeeded(seeds: DataFrame, steps: Int): DataFrame = {
      val oriented = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val e = oriented.filter(col("src") =!= col("dst")).distinct()
        .truncateLineage(false)
      val w1 = Window.partitionBy(col("src"))
      val adj = e.select(col("src"), col("dst"),
          row_number().over(w1.orderBy(col("dst"))).as("idx"),
          count(lit(1)).over(w1).as("deg"))
        .truncateLineage(false)
      val succ0 = e.select(col("src").as("t"), col("dst").as("v"))
        .join(e.select(col("src").as("v"), col("dst").as("x")), Seq("v"))
      val flagged = succ0.join(e.select(col("src").as("t"), col("dst").as("x"),
          lit(true).as("is1")), Seq("t", "x"), "left")
        .select(col("t"), col("v"), col("x"),
          when(col("x") === col("t"), lit(q.toLong))
            .when(col("is1").isNotNull, lit(p.toLong * q.toLong))
            .otherwise(lit(p.toLong)).as("w"))
      val wTv = Window.partitionBy(col("t"), col("v"))
      val esucc = flagged.select(col("t"), col("v"), col("x"), col("w"),
          (sum(col("w")).over(wTv.orderBy(col("x"))
            .rowsBetween(Window.unboundedPreceding, 0)) - col("w")).as("cumb"),
          sum(col("w")).over(wTv).as("total"))
        .truncateLineage(false)
      val starts = seeds.select(col("node").as("start"))
      var acc = starts.select(col("start"), lit(0).as("step"),
        col("start").as("node"))
      val pick1 = pmod(h48(col("node").cast("string"),
        col("node").cast("string"), lit("1"), lit(seed)), col("deg")) + 1
      var wk = starts.select(col("start").as("node"))
        .join(adj, col("node") === adj("src"))
        .filter(col("idx") === pick1)
        .select(col("node").as("start"), col("node").as("prev"),
          col("dst").as("cur"))
        .truncateLineage(false)
      acc = acc.union(wk.select(col("start"), lit(1).as("step"), col("cur")))
      (2 to steps).foreach { k =>
        val x = pmod(h48(col("start").cast("string"),
          col("prev").cast("string"), col("cur").cast("string"),
          lit(k.toString), lit(seed)), col("total"))
        wk = wk.join(esucc,
            wk("prev") === esucc("t") && wk("cur") === esucc("v"))
          .filter(x >= col("cumb") && x < col("cumb") + col("w"))
          .select(col("start"), col("cur").as("prev"), col("x").as("cur"))
          .truncateLineage(false)
        acc = acc.union(wk.select(col("start"), lit(k).as("step"), col("cur")))
      }
      acc
    }
    def bucketed(seeds: DataFrame, steps: Int) = Graph.node2vecSeededWalks(
      edges, "src", "dst", seeds, "node", steps, p, q, seed, bucketCap = cap)
    Seq(512, 4096).foreach { nw =>
      val seeds = seedsOf(r, nw)
      Seq(2, 12).foreach { steps =>
        val walks = Seq("join" -> joinSeeded _, "bucketed" -> bucketed _).map {
          case (form, run) =>
            val v = s"${form}_w${nw}_s$steps"
            r.timed(v)(rows(run(seeds, steps)))(_ => Seq("walkers" -> nw,
              "steps" -> steps) ++ (if (steps == 2) Nil else Seq("slope_s" ->
              (r.wall(v) - r.wall(s"${form}_w${nw}_s2")) / 10)))
        }
        require(walks.distinct.size == 1, "second-order bucketed walks " +
          s"diverged from the join form ($nw walkers, $steps steps)")
      }
    }
  }

  val all: Seq[Def] = Seq(graph, walk, walkSecondOrder)
}
