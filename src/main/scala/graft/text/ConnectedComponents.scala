package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair graph — the clustering step
  * a corpus-curation funnel runs AFTER near-dup pair generation: the
  * verified pair set is a graph, a duplicate GROUP is its connected
  * component (A~B and B~C put A,C in one group even when A~C was never
  * emitted), and the survivor is one canonical document per component.
  * Pairwise removal ("drop the larger id of every pair") over-removes on
  * chains; component clustering is the standard fix (near-dup clustering in
  * web-corpus pipelines).
  *
  * Two regimes, switched on the canonical edge count (the count the
  * convergence fingerprint already computes, checked before the loop and
  * after every round):
  *
  *  - ABOVE 250k edges (about 4 MB of Long pairs, which one task holds
  *    comfortably): distributed rounds of alternating LARGE-STAR /
  *    SMALL-STAR (Kiveris et al., "Connected Components in MapReduce and
  *    Beyond", ACM SoCC 2014) — the shuffle-friendly formulation that
  *    converges in O(log n) rounds on any graph (vs O(diameter) for plain
  *    label propagation, which a 10^8-node dup-chain would stall):
  *
  *      large-star: every node u links each STRICTLY LARGER neighbor to the
  *        minimum of its closed neighborhood m(u) = min(N(u) ∪ {u});
  *      small-star: on the canonical (parent > child) edge list, every node
  *        u re-links its smaller neighbors (and itself) to m(u).
  *
  *    Both steps preserve connectivity exactly (each replaced edge (v,x) is
  *    substituted by a path v–m–x inside the emitted set, so no node is
  *    ever dropped) and never introduce cross-component edges, so the
  *    fixpoint — a star forest rooted at each component's minimum id —
  *    labels every node with exactly the component min. Everything is
  *    joins + partial-aggregating groupBys on Long pairs: no collect_list
  *    (a hub node's neighborhood never materializes in one buffer — the
  *    min is a streaming agg and the re-link is a join), no UDF. Each
  *    round MATERIALIZES its edge set with an eager `localCheckpoint` —
  *    each round's plan references the previous round's edges four times,
  *    so without lineage truncation the logical plan tree doubles every
  *    round and Catalyst analysis goes exponential (~round 18 it stalls
  *    the driver; observed, not theoretical) — then compares a
  *    (count, bit_xor-of-hashes) fingerprint against the previous round
  *    for convergence; at 100 TB each round is two shuffles over a
  *    shrinking edge list and the O(log n) bound keeps the round count ~20
  *    even at 10^9 nodes. Shuffle widths are the session's; AQE's
  *    post-shuffle coalescing sizes each round to its edge list.
  *    (On a multi-executor cluster swap `localCheckpoint` for `checkpoint`
  *    against the job's reliable checkpoint dir: same lineage truncation,
  *    executor-loss-safe.)
  *  - AT OR BELOW the bound (from the start, or once the rounds have
  *    shrunk the edge list that far): the edges are coalesced into ONE
  *    task that runs union-find, linking the larger root under the smaller,
  *    so every root is its component's minimum — the same labels the
  *    rounds converge to, without their per-round jobs and planning.
  *
  * No session conf is read or set: a caller's concurrent queries see the
  * session exactly as they left it.
  *
  * No reference counterpart (builder-brief addition: dedup at training-data
  * scale, like [[VectorLsh]]/[[VectorIvf]]).
  */
object ConnectedComponents {

  /** Connected components of the undirected graph given by `edges` (two
    * integral columns: the endpoint pair of each edge; self-loops and
    * duplicates tolerated). Returns `(node BIGINT, rep BIGINT)` — one row
    * per distinct endpoint, `rep` = the smallest node id in its component.
    * Throws if the star-forest fixpoint is not reached within [[MaxIter]]
    * rounds — a loud failure, never a silently wrong labeling.
    */
  def run(edges: DataFrame): DataFrame = runWithRounds(edges)._1

  /** As [[run]], also returning the number of distributed
    * large-star/small-star rounds run before the labels were finished —
    * scale evidence against the O(log n) bound (0 when the whole graph
    * fits the one-task finish). */
  def runWithRounds(edges: DataFrame): (DataFrame, Int) = components(edges)

  /** Round cap: 2·⌈log₂ n⌉ + 4 is the published envelope, and 50 covers any
    * realistic graph. */
  private val MaxIter = 50

  /** [[runWithRounds]] with the one-task bound `localEdges` (edge count at
    * or below which the labels are finished in one task) as a parameter,
    * so tests can force either regime: 0 runs the rounds to the end. */
  private[text] def components(edges: DataFrame,
      localEdges: Long = 250000L): (DataFrame, Int) = {
    val src = edges.columns(0)
    val dst = edges.columns(1)
    // canonical undirected edge list: (hi > lo), no self-loops, distinct
    var e = edges
      .select(greatest(col(src).cast("long"), col(dst).cast("long")).as("hi"),
        least(col(src).cast("long"), col(dst).cast("long")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(true)

    var fp = fingerprint(e)
    var converged = false
    var it = 0
    while (!converged && fp._1 > localEdges && it < MaxIter) {
      // LARGE-STAR on the symmetrized adjacency. For u's group the closed-
      // neighborhood min is m = least(min(v), u); every neighbor v > u
      // re-links to m. Under canonical input each undirected edge {a,b}
      // (b > a) is emitted exactly from the a-side group, as (b, m(a)) —
      // still canonical since m ≤ a < b.
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val lmin = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // No intermediate distinct: large-star emits exactly one row per
      // canonical edge (each {a,b}, b > a, is emitted only from the a-side
      // group), so the only duplicates are (v, m) collisions from
      // different source edges — smin's min is duplicate-insensitive and
      // the round-final distinct collapses them, making `next` SET-
      // identical with or without it. Dropping it removes one full
      // exchange (and its stage) from every round.
      val large = sym.join(lmin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))

      // SMALL-STAR on the canonical (parent = hi, child = lo) list: every
      // parent u re-links its children (all < u) and itself to the child
      // min m; emitted edges (v, m) for children v > m, plus (u, m).
      val smin = large.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val relinked = large.join(smin, "hi")
        .filter(col("lo") > col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
      val self = smin.select(col("hi"), col("m").as("lo"))
      // eager localCheckpoint: caches AND truncates lineage — the loop's
      // correctness-critical line (see the scaladoc's exponential-plan note)
      val next = relinked.union(self).distinct().localCheckpoint(true)

      val nfp = fingerprint(next)
      e.unpersist()
      e = next
      converged = nfp == fp
      fp = nfp
      it += 1
    }

    val result =
      if (fp._1 <= localEdges) {
        val sess = e.sparkSession
        import sess.implicits._
        e.coalesce(1).as[(Long, Long)].mapPartitions(unionFind)
          .toDF("node", "rep").localCheckpoint(true)
      } else {
        // Star-forest invariant, asserted not assumed: no node is both a
        // parent and a child (a chain would label with a non-root), and
        // every parent has exactly one root.
        val chains = e.select(col("hi").as("n")).intersect(e.select(col("lo").as("n"))).limit(1).count()
        val multi = e.groupBy(col("hi")).agg(countDistinct(col("lo")).as("k"))
          .filter(col("k") > 1).limit(1).count()
        if (!converged || chains != 0 || multi != 0) {
          e.unpersist()
          throw new IllegalStateException(
            s"connected components did not reach a star forest in $MaxIter rounds " +
              s"(converged=$converged chains=$chains multiParent=$multi)")
        }
        // every node survives the rounds, so in the star forest the
        // non-roots are the parents (hi) and the roots are exactly the
        // distinct children
        val labels = e.select(col("hi").as("node"), col("lo").as("rep"))
        val roots = e.select(col("lo").as("node"), col("lo").as("rep")).distinct()
        labels.union(roots).localCheckpoint(true)
      }
    e.unpersist()
    (result, it)
  }

  /** Union-find over one task's canonical `(hi, lo)` edges, emitting
    * `(node, rep)` for every endpoint. Ids are sorted and compressed to
    * indices, so linking the larger root index under the smaller keeps every
    * root at its component's minimum id.
    */
  private def unionFind(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val es = edges.toArray
    val ids = es.flatMap { case (h, l) => Array(h, l) }.distinct.sorted
    val parent = Array.range(0, ids.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nxt = parent(y); parent(y) = r; y = nxt }
      r
    }
    es.foreach { case (h, l) =>
      val a = find(java.util.Arrays.binarySearch(ids, h))
      val b = find(java.util.Arrays.binarySearch(ids, l))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    Iterator.tabulate(ids.length)(k => (ids(k), ids(find(k))))
  }

  /** Cheap order-insensitive convergence fingerprint of an edge set:
    * (count, bit_xor of row hashes) — xor never overflows (the edge set is
    * distinct so nothing cancels), and a collision cannot produce a wrong
    * answer silently: stopping early leaves a non-star edge set that the
    * post-loop invariant check turns into a loud failure.
    */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)).as("c"),
      coalesce(expr("bit_xor(xxhash64(hi, lo))"), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }
}
