package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Redirect-chain resolution over a (src, dst) edge table — the crawl
  * frontier's canonical-URL step: every URL that answered 3xx points at
  * its Location target, and the fetch scheduler needs each chain's
  * TERMINAL target (the page that actually serves content) plus a
  * verdict on loops. The companion to [[graft.ops.Robots]] /
  * [[UrlOps]] on the crawl side of the pipeline, and the directed
  * sibling of [[Dedup.clusters]]' undirected label propagation.
  *
  * Algorithm: pointer doubling on the functional graph. Round r holds,
  * for every source, the node reached after min(2^r, chain) hops and
  * the EXACT hop count walked; composing the map with itself doubles
  * the reach, so `ceil(log2(maxHops))` self-joins resolve every chain
  * up to `maxHops` — never one shuffle round per hop (a 10^4-long
  * adversarial chain is 14 rounds, not 10^4). A walk still sitting on
  * a node WITH an outgoing edge after the final round is declared
  * cyclic (true loops and over-cap chains alike — the cap IS the
  * semantics, shared with the oracle's bounded recursive replay).
  *
  * Scale shape for 100 TB: each round is ONE equi-join of the map with
  * itself on the reached node (AQE-splittable, 3 narrow columns), plus
  * a lineage-truncating [[Snapshot]] (without it round k re-executes
  * rounds 1..k-1). The final
  * cyclic test is one left semi-style join against the distinct source
  * set. Nothing collects to the driver; output is one row per edge.
  *
  * Contract: srcs must be unique (a URL redirects to ONE place; with
  * duplicate srcs the composition join fans out and hop counts become
  * ambiguous). Null endpoints are dropped — a redirect without a
  * target never enters the walk. */
object Redirects {

  /** (srcCol, dstCol) edges → (src, final, hops, cyclic); `final` and
    * `hops` are NULL on cyclic rows (a loop has no terminal). Chains
    * longer than `maxHops` are reported cyclic. */
  def resolve(edges: DataFrame, srcCol: String, dstCol: String,
              maxHops: Int = 64): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1; got $maxHops")
    val e = Snapshot(
      edges.select(col(srcCol).cast("string").as("id"),
          col(dstCol).cast("string").as("tgt"))
        .filter(col("id").isNotNull && col("tgt").isNotNull))
    var m = e.select(col("id"), col("tgt"), lit(1L).as("steps"))
    var reach = 1L
    var live = true
    var probeAt = 4L
    while (live && reach < maxHops) {
      val jump = m.select(col("id").as("jid"), col("tgt").as("jtgt"),
        col("steps").as("jsteps"))
      // resolved walks (tgt has no entry in the map) ride through the
      // left join unchanged; live walks jump 2^r more hops and add the
      // jumped segment's exact step count
      val ck = Snapshot(m.join(jump, m("tgt") === jump("jid"), "left")
        .select(col("id"),
          coalesce(col("jtgt"), col("tgt")).as("tgt"),
          (col("steps") + coalesce(col("jsteps"), lit(0L))).as("steps"),
          col("jtgt").isNotNull.as("__moved")))
      // early FIXPOINT exit (round 8): once no walk moved in a round,
      // every remaining round composes with the identity — the output
      // equals the full next-pow2(maxHops) walk exactly, at a fraction
      // of the shuffle rounds. Real redirect chains are 1-3 hops, so
      // maxHops=64 paid 6 full-corpus self-joins where 2 suffice. A
      // CYCLE keeps moving every round (its reached node always has an
      // out-edge), so cyclic corpora still walk the full capped reach —
      // the cap semantics the oracle's bounded recursion replays are
      // unchanged. The probe scans only the just-checkpointed frame.
      m = ck.select("id", "tgt", "steps")
      reach *= 2
      // GEOMETRIC probe schedule (reach 4, 16, 64, ...): round 1 almost
      // always has movement (any chain of length >= 2), and on a
      // corpus WITH cycles every probe is pure overhead — probing
      // every 2nd round keeps the short-chain early exit (real chains
      // are 1-3 hops → the reach-4 probe fires) while capping wasted
      // probes on cyclic corpora at O(log log) of the rounds. Worst
      // case one extra round vs per-round probing, which costs about
      // what the skipped probes save. No probe on the final round.
      if (reach == probeAt && reach < maxHops) {
        live = !ck.filter(col("__moved")).limit(1).isEmpty
        probeAt *= 4
      }
    }
    // a walk is finished iff its reached node has no outgoing edge;
    // after the rounds above every acyclic chain <= maxHops is finished
    val outs = e.select(col("id").as("osrc")).distinct()
    m.join(outs, m("tgt") === col("osrc"), "left")
      .select(col("id").as("src"),
        when(col("osrc").isNull, col("tgt")).as("final"),
        when(col("osrc").isNull, col("steps")).as("hops"),
        col("osrc").isNotNull.as("cyclic"))
  }
}
