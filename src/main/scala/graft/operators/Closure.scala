package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.graftshim.InternalRowShim

/**
 * Iterative graph closures (SURVEY T2, J3) as driver-coordinated loops of
 * DataFrame joins — deliberately NOT a single Catalyst plan (recursion isn't
 * plan-expressible) and deliberately NOT GraphX (RDD-based, unavailable
 * benefit at ontology scale).
 *
 * Scale note: these run on ONTOLOGY-sized edge lists (≤ millions of rows),
 * never on the 10^12-turn corpus, so each iteration is a small broadcast-able
 * join; `localCheckpoint` every iteration cuts the exponential lineage that
 * would otherwise blow up the plan at depth ~20.
 */
object Closure {

  /** Above this edge count the closures below run distributed; at or below
    * it they run on the driver (BFS for [[descendants]], [[DriverUnionFind]]
    * for [[connectedComponents]] — the single connected-components cost
    * switch, which `KgPipeline.xrefCanonicalMap` and `DedupOps.nearDupGroups`
    * call). Rationale, measured in round 7: the iterative
    * DataFrame loops pay 3-6 whole Spark jobs PER ROUND in scheduling and
    * checkpoint overhead (q_closure: 68 jobs for a 199-edge tree; the CC
    * star contraction: 23 jobs for 15k edges) — for ontology-sized graphs
    * that is pure fixed cost, while 200k collected string pairs are a few
    * MB of driver memory. The distributed branches are unchanged and keep
    * their own tests (forced via `driverLimit = 0`). */
  val DriverGraphLimit = 200000L

  /** Spark's string comparison (`least`/`min`/`<`) orders by UTF-8 bytes
    * unsigned; Java's String.compareTo orders by UTF-16 code units. They
    * agree on every code point below U+10000 but disagree when supplementary
    * characters meet [U+E000, U+FFFF] — so the driver branches compare the
    * SAME way Spark does, not the Java default. */
  private[operators] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** [[DriverProbe]] of the narrow 2-column pair frame for both closures;
    * None means "stay distributed": too big, `driverLimit <= 0` (the test
    * switch), columns not both of one type in `driverTypes`, or a null
    * endpoint, which the driver branches don't model. */
  private def probePairs(narrow: DataFrame, driverLimit: Long,
                         driverTypes: Set[DataType]): Option[Array[Row]] =
    if (driverLimit <= 0 || !driverTypes.exists(t => narrow.schema.forall(_.dataType == t))) None
    else DriverProbe.bounded(narrow, driverLimit)
      .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))

  /**
   * T2 descendant closure, networkx `nx.ancestors` semantics on a
   * child→parent digraph — the UNION of per-seed `nx.ancestors(G, seed)`
   * exactly as ner.py:141-143 computes it: all nodes with a directed path TO
   * any seed. A seed never appears merely for being a seed (ancestors(s)
   * excludes s), but a seed NESTED UNDER ANOTHER SEED is a genuine member of
   * the union and IS included — anti-joining all seeds out (round-1 behavior)
   * silently dropped those nested terms' literal mappings from the subset.
   *
   * @param childParent edges with columns (subj, obj) = (child, parent)
   * @param seeds       one column `curie` of seed (ancestor) CURIEs
   * @return one column `curie` of descendant CURIEs
   */
  def descendants(childParent: DataFrame, seeds: DataFrame,
                  driverLimit: Long = DriverGraphLimit): DataFrame = {
    val spark = childParent.sparkSession
    probePairs(childParent.select(col("subj"), col("obj")), driverLimit, Set(StringType)) match {
      case Some(rows) =>
        val pairs = rows.map(r => (r.getString(0), r.getString(1)))
        // driver BFS over parent→children adjacency: identical semantics to
        // the loop below (acc collects ONLY nodes reached via >= 1 edge step)
        // in ONE collect job instead of ~4 jobs per tree level
        val seedArr = seeds.select(col("curie")).distinct().collect()
          .map(_.getString(0))
        val byParent: Map[String, Array[String]] =
          pairs.groupMap(_._2)(_._1).view.mapValues(_.toArray).toMap
        val visited = scala.collection.mutable.HashSet[String]()
        var frontier: Iterable[String] = seedArr.toSeq
        while (frontier.nonEmpty) {
          frontier = frontier.iterator
            .flatMap(p => byParent.getOrElse(p, Array.empty[String]))
            .filter(c => visited.add(c)) // newly-reached only (cycle-safe)
            .toVector
        }
        import spark.implicits._
        return visited.toSeq.sorted.toDF("curie")
      case None => // fall through to the distributed loop
    }
    val edges = childParent.select(col("subj").as("child"), col("obj").as("parent"))
      .localCheckpoint(true)

    // frontier = nodes whose descendants we still need to pull in; `acc`
    // collects ONLY nodes reached via ≥1 edge step (so a seed enters the
    // result exactly when some other seed reaches it)
    var frontier = seeds.select(col("curie")).distinct().localCheckpoint(true)
    var acc = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      frontier.schema)

    // emptiness probe, not a full count — saves one full pass per iteration
    var nonEmpty = frontier.limit(1).count() > 0
    while (nonEmpty) {
      val next = edges.join(broadcast(frontier), edges("parent") === frontier("curie"))
        .select(col("child").as("curie")).distinct()
        // only genuinely new nodes continue (cycle-safe, termination guaranteed)
        .join(acc, Seq("curie"), "left_anti")
        .localCheckpoint(true)
      val newAcc = acc.unionByName(next).localCheckpoint(true)
      // superseded checkpoints are dead weight (eager checkpoints cut lineage,
      // so newAcc/next no longer read them) — release, don't pin O(rounds) copies
      InternalRowShim.unpersistCheckpoint(acc)
      InternalRowShim.unpersistCheckpoint(frontier)
      acc = newAcc
      frontier = next
      nonEmpty = frontier.limit(1).count() > 0
    }
    InternalRowShim.unpersistCheckpoint(frontier) // folded into acc already
    InternalRowShim.unpersistCheckpoint(edges)
    acc.distinct()
  }

  /**
   * J3 connected components over an undirected edge list, for xref-based
   * entity merging: nodes connected through `oboInOwl:hasDbXref` links
   * collapse to one canonical entity (min CURIE in the component).
   *
   * Algorithm: alternating large-star/small-star contraction (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
   * O(log n) rounds REGARDLESS of component diameter, unlike plain min-label
   * propagation whose round count is the diameter (round-2 verdict: a >50-hop
   * near-dup chain would have exited the old loop with silently WRONG labels).
   * At the fixpoint the edge set is a star forest rooted at each component's
   * minimum, so `component = min reachable` semantics are identical.
   *
   * Non-convergence within `maxIter` now FAILS LOUDLY: with O(log n) rounds,
   * 50 iterations cover ~2^50 nodes, so tripping the guard means a logic bug
   * or corrupt input — wrong groups must never be returned as if converged.
   *
   * @param edges columns (a, b) — undirected pairs of CURIEs (strings) or of
   *        long ids; other types always run distributed
   * @return (curie, component) — component = min endpoint reachable, in
   *         Spark's order for the type (UTF-8 bytes for strings, numeric for
   *         longs); every endpoint appears (self-pairs count as membership)
   */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
                          driverLimit: Long = DriverGraphLimit): DataFrame = {
    val narrow = edges.select(col("a"), col("b"))
    probePairs(narrow, driverLimit, Set(StringType, LongType)) match {
      case Some(rows) =>
        val dt = narrow.schema.head.dataType
        // component roots in Spark's order for the type — exactly the star
        // contraction's fixpoint labels (equivalence test-pinned)
        val lt: (Any, Any) => Boolean =
          if (dt == StringType) (x, y) => utf8Lt(x.asInstanceOf[String], y.asInstanceOf[String])
          else (x, y) => x.asInstanceOf[Long] < y.asInstanceOf[Long]
        val comp = DriverUnionFind.components(rows.iterator.map(r => (r.get(0), r.get(1))))(
          (x, y) => if (lt(y, x)) y else x)
        val out = comp.toSeq.sortWith((p, q) => lt(p._1, q._1)).map(p => Row(p._1, p._2))
        return edges.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*),
          StructType(Seq(StructField("curie", dt), StructField("component", dt))))
      case None => // fall through to the distributed star contraction
    }
    // the edge list is pinned ONCE: the node set and the initial edge set
    // both derive from it, and as a lazy plan each would re-run the
    // upstream pipeline (e.g. LSH banding behind near-dup pairs)
    val pinned = narrow.localCheckpoint(true)
    // membership = every endpoint ever seen (incl. isolated self-loop nodes,
    // which the star contraction drops from the edge list)
    val nodes = pinned.select(col("a").as("curie"))
      .unionByName(pinned.select(col("b").as("curie")))
      .distinct().localCheckpoint(true)

    // parent-pointer orientation big → small; self-loops carry no connectivity
    var e = pinned
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    // both derived sets are eager checkpoints, so the pin is dead weight now
    InternalRowShim.unpersistCheckpoint(pinned)

    var iter = 0
    var eCount = e.count()
    var converged = eCount == 0
    while (!converged && iter < maxIter) {
      // large-star(u): m = min(Γ(u) ∪ {u}); hook every neighbor v > u to m.
      // Both emitted endpoints differ (m ≤ u < v) so orientation is preserved.
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct().localCheckpoint(true)

      // small-star(u) on the oriented list (all neighbors < u): m = min(N(u));
      // hook u and every other small neighbor to m.
      val smins = large.groupBy("u").agg(min(col("v")).as("m"))
      val next = large.join(smins, "u")
        .select(explode(array(
          struct(col("u"), col("m").as("v")),
          struct(col("v").as("u"), col("m").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct().localCheckpoint(true)

      // fixpoint test, EXACT but cheap: both sets are distinct, so
      // |next| == |e| and next\e == ∅ together imply next == e. The count is
      // nearly free on the just-checkpointed rows and usually differs, so the
      // anti-join probe only runs on candidate-converged rounds.
      val nextCount = next.count()
      converged = nextCount == eCount &&
        next.join(e, Seq("u", "v"), "left_anti").limit(1).count() == 0
      // `next` is eagerly checkpointed, so the superseded edge set and the
      // round-local large-star list can be released — without this a deep run
      // pins O(rounds) copies of the edge set in executor storage
      InternalRowShim.unpersistCheckpoint(e)
      InternalRowShim.unpersistCheckpoint(large)
      e = next
      eCount = nextCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter large/small-star rounds " +
          "(O(log n) expected) — refusing to return possibly-wrong component labels")

    // star forest: members point at the component min; roots label themselves
    nodes.join(e.select(col("u").as("curie"), col("v").as("component")), Seq("curie"), "left")
      .select(col("curie"), coalesce(col("component"), col("curie")).as("component"))
  }
}
