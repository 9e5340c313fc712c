package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession, classic}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine determinism helpers (SURVEY.md §7.3).
  *
  * The correctness gate hash-compares our parquet output against DuckDB
  * running the same SQL. Double summation is order-dependent, so every
  * money/metric sum goes through DECIMAL(18,4):
  *   - the per-row double expression is deterministic IEEE math
  *     (identical on both engines),
  *   - the double→decimal cast rounds to 4 decimals (no representable
  *     double sits exactly on a 1e-4 tie, so HALF_UP vs HALF_EVEN can't
  *     diverge),
  *   - decimal addition is exact and order/partition-independent,
  *   - the final decimal→double cast is deterministic.
  * Averages are sum_decimal→double divided by count (one IEEE division),
  * never a streaming double `avg`.
  */
object Util {
  val D: DecimalType = DecimalType(18, 4)

  /** RELIABLE eager checkpoint for DATA-SIZED shared/loop frames (the
    * iterative graph/dedup/ANN family) — the round-9 hardening of what
    * was a serialized `localCheckpoint`.
    *
    * Why reliable, not local: `localCheckpoint` truncates lineage to
    * blocks PINNED TO EXECUTOR LIVENESS — lose one executor and every
    * frame with a block there dies with
    * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` (loud, never wrong, but on a
    * real cluster executor churn is the norm; the round-9 ClusterProof
    * heavy runs showed exactly this). `Dataset.checkpoint()` writes the
    * frame to the checkpoint DIRECTORY instead — on a cluster that is
    * HDFS/object storage (set `graft.checkpointDir`), here a pid-keyed
    * tmpfs dir — so executor loss degrades to re-reading files, not to
    * query death. Lineage truncation (the reason these loops checkpoint
    * at all: the per-round plan would otherwise double) and the
    * preserved output partitioning (LogicalRDD keeps the physical
    * plan's partitioning, so pre-hashed loop frames don't re-shuffle)
    * are identical to the local form.
    *
    * Cost shape: the eager materialization is one job; Spark then
    * writes the checkpoint files in a SECOND job — `persist` first so
    * that write job reads the just-built serialized blocks instead of
    * recomputing the (possibly expensive — the banded pair graph)
    * subtree, then unpersist once the files exist. Files are
    * lz4-compressed when the session sets `spark.checkpoint.compress`
    * (our mains/specs do). Storage: frames live as compact files
    * (tmpfs here), not executor storage memory — strictly better for
    * the bounded-heap sf100 rung than serialized blocks.
    *
    * Hygiene: the pid-keyed root is swept of dead-pid leftovers at
    * first use and removed by a JVM shutdown hook; iterative loops
    * additionally [[dropCheckpoint]] each round's provably-dead
    * predecessor so standing files stay O(1) frames per loop. */
  def serCheckpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(df.sparkSession.conf.getOption("graft.checkpointDir")
        .getOrElse(checkpointRoot))
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val out = try df.checkpoint()
              finally { df.unpersist(blocking = false); () }
    // block-cache the checkpointed RDD itself (NOT Dataset.persist —
    // the columnar InMemoryRelation roundtrip plus its AQE cache stage
    // measured ~2× on every consumer of the shared artifacts):
    // consumers' `Scan ExistingRDD` then reads memory-speed serialized
    // blocks exactly like the localCheckpoint it replaced, and
    // eviction/executor loss degrades to re-reading the checkpoint
    // FILES — the RDD's recompute path — not to query death.
    out.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        // HONEST STATS from the materialized files: checkpoint copies
        // the pre-checkpoint plan's estimate, which for the postings /
        // pair frames runs orders of magnitude LOW and made the planner
        // broadcast a 40M-row frame into every consumer join (sf1
        // executor OOM; an outage at 100 TB). lz4 on-disk bytes × 4 ≈
        // decoded size — erring high only withholds a broadcast hint
        // our ops issue explicitly (gatedBroadcast) anyway.
        lr.rdd.getCheckpointFile.map { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          val onDisk = path.getFileSystem(sc.hadoopConfiguration)
            .getContentSummary(path).getLength
          org.apache.spark.sql.graftbridge.Bridge.withStats(out, BigInt(onDisk) * 4)
        }.getOrElse(out)
      case _ => out
    }
  }

  /** Size-gated checkpoint for PER-QUERY data-sized frames
    * ([[componentLabels]] rounds, wedge/arc/hit frames): reliable
    * [[serCheckpoint]] once the frame is big enough
    * (`graft.checkpoint.reliableMinRows`, default 4M rows) that the file
    * write amortizes against the compute it protects — the sf100
    * regime, where losing a multi-minute loop to one executor death is
    * the real risk; BELOW the gate, a serialized `localCheckpoint` —
    * same lineage truncation, zero file I/O, one job — because a
    * fixture-scale frame is trivially recomputable: an executor loss
    * there costs ONE query retry, not the session (the session-cached
    * artifacts stay reliable unconditionally, so retries always find
    * their shared inputs intact). Every reliable checkpoint is two
    * jobs and a file write, a cost a loop pays once per round, for
    * durability no 40k-row frame needs. */
  def serCheckpoint(df: DataFrame, estRows: Long): DataFrame = {
    val gate = df.sparkSession.conf.getOption("graft.checkpoint.reliableMinRows")
      .map(_.toLong).getOrElse(4000000L)
    if (estRows >= gate) serCheckpoint(df)
    else {
      val out = df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // the same honest-stats rule as the reliable branch: checkpoint
      // inherits the PRE-checkpoint estimate, which under-reads the
      // postings/pair frames by orders of magnitude and turned a
      // 2.4M-row gram frame into a ~250 MB auto-BROADCAST (the real
      // root of the "8-gram agg" executor OOMs blamed on contention in
      // round 9). The materialized blocks are the truth: serialized
      // bytes × 2 ≈ decoded size; estRows × 64 B as the fallback.
      out.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          val info = df.sparkSession.sparkContext.getRDDStorageInfo
            .find(_.id == lr.rdd.id)
          val bytes = info.map(i => BigInt(i.memSize + i.diskSize) * 2)
            .filter(_ > 0)
            .getOrElse(BigInt(math.max(estRows, 1L)) * 64)
          org.apache.spark.sql.graftbridge.Bridge.withStats(out, bytes)
        case _ => out
      }
    }
  }

  /** Method-chain sugar so `.serCheckpoint(...)` reads like the
    * `.localCheckpoint(...)` it replaced (31 op-layer sites). */
  implicit class RichCheckpoint(private val df: DataFrame) extends AnyVal {
    def serCheckpoint(): DataFrame = Util.serCheckpoint(df)
    def serCheckpoint(estRows: Long): DataFrame = Util.serCheckpoint(df, estRows)
  }

  /** Delete the checkpoint files behind a [[serCheckpoint]] result.
    * ONLY for provably-dead loop frames — the frame being REPLACED in
    * an iterative loop once its successor is materialized (successors
    * are file-backed, so they never re-read the predecessor). Never
    * call on a frame a returned (lazy) plan still reads, or on the
    * shared (session, sfDir)-keyed caches. Scoped to the exact frame —
    * this replaces the round-8 session-global persistent-RDD diffing
    * that could unpersist a concurrent query's blocks (round-9 ADVICE).
    * No-op when `df` is not a checkpoint root. */
  def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        // both branches: free the serialized blocks; reliable frames
        // additionally lose their (now-dead) checkpoint files
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true): Unit
        }
      case _ => ()
    }

  /** Pid-keyed reliable-checkpoint root (tmpfs-backed where the box
    * has one — same placement rationale as [[scratchRoot]]); clusters
    * override with `graft.checkpointDir` → shared storage. */
  lazy val checkpointRoot: String = {
    val parent = new java.io.File(scratchRoot).getParentFile
    sweepDeadPidDirs(parent, "graft_ckpt")
    val dir = new java.io.File(parent,
      s"graft_ckpt_p${ProcessHandle.current().pid()}_0")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursive(dir)))
    dir.getAbsolutePath
  }

  /** Order-independent exact sum of a double expression, output as double.
    *
    * `scale` must be ≥ the true decimal scale of the expression (fixture
    * money columns are 2-decimal; an n-factor product of 2-decimal values
    * has true scale 2n). When the cast scale ≥ true scale, the double
    * being cast sits ~1e-16·|x| from an exact grid point — far inside the
    * half-step — so Spark's shortest-string HALF_UP and DuckDB's
    * binary-value rounding recover the *same* grid value. A scale below
    * the true scale creates genuine ties that the two engines break
    * differently (observed on a 3-factor product at scale 4). */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double")

  /** Deterministic average: exact decimal sum → double, / count. */
  def davg(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double") / count(lit(1))

  /** Shared histogram bucketing for q_agg_histogram and
    * q_ts_histogram_quantile (the quantile reader interpolates INSIDE
    * these buckets, so the two ops must never drift apart): floor the
    * double (exact on both engines), then pure integer div/clamp —
    * bucket edges can never straddle engines. Oracle mirror:
    * `least(CAST(floor(value) AS BIGINT) // 50, 9)`. */
  def bucket50(colName: String): Column =
    least(org.apache.spark.sql.functions.expr(
      s"CAST(floor($colName) AS BIGINT) div 50"), lit(9L))

  /** Morton (Z-order) interleave of two non-negative long columns'
    * low `bits` bits — x occupies even bit positions, y odd. Pure
    * bitwise/arithmetic ops (stays in whole-stage codegen). Sorting a
    * layout by this key co-clusters BOTH dimensions, so per-file
    * min/max stats prune range predicates on either column — the
    * multi-dimensional data-layout move single-column sorting can't
    * make (see q_sink_zorder + the pruning property test). CALLER
    * CONTRACT: inputs must already sit in the 2^bits domain —
    * normalize (min/max-scale or rank) first, as qSinkZorder does;
    * larger values alias modulo 2^bits and that dimension silently
    * stops co-clustering. */
  def morton(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      (shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
      (shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Size-gated broadcast for O(|V|)/O(|E|) frames (the graph family's
    * degree and hub frames, vocabulary and customer-dimension
    * tables). These are not constant-size dimension
    * tables: an unconditional `broadcast()` hint hard-pins a plan that
    * at 100× node counts OOMs the driver assembling the broadcast.
    * Broadcasting them IS 30-45% faster at fixture scale (measured,
    * round 3), so the hint stays — but only while the frame's estimated
    * size (`estRows` × `bytesPerRow`) is within `budgetBytes` (default
    * 8 MiB, near Spark's own auto-broadcast default); past it
    * the same equi-join runs un-hinted, i.e. as a co-partitioned
    * shuffle join — semantics identical, plan scale-safe. A site whose
    * build side is a flat lookup table live in one join at a time
    * declares a larger budget (the q_dedup_editdist prefix rejoin
    * 128 MiB, the triangle closing filter 256 MiB). A session
    * that switches Spark's own broadcast off
    * (`spark.sql.autoBroadcastJoinThreshold` negative) gets no hint
    * either, so one switch closes every broadcast. PlanShapeSpec pins
    * both branches (hinted under the gate; no BroadcastExchange with
    * the switch off). */
  def gatedBroadcast(s: SparkSession, df: DataFrame, estRows: Long,
                     bytesPerRow: Int = 48,
                     budgetBytes: Long = 8L << 20): DataFrame =
    if (estRows * bytesPerRow <= budgetBytes &&
        s.asInstanceOf[classic.SparkSession].sessionState.conf
          .autoBroadcastJoinThreshold >= 0) broadcast(df)
    else df

  /** Connected components of an undirected pair list (columns `a_id`,
    * `b_id`; duplicates and either orientation allowed) →
    * (id, lab = component min) for every id in it, by partition-local
    * union-find contraction. Each round:
    *   - routes every edge to the hash partitions of BOTH endpoints, so a
    *     node's whole neighbourhood meets in one partition;
    *   - runs a union-find per partition (smallest id as root, path
    *     halving) and emits (x, root) for every node, a root as (r, r);
    *   - groups those by node: m = the node's least root, and each other
    *     root of it (itself included, if it is a root elsewhere) is
    *     linked to m.
    * Every edge of a round is contracted inside one union-find, so the
    * next round's edge set connects exactly the same components, and it
    * is a star forest — one row (x, m) per node, m the component min —
    * once no node carries two roots (a root that is a child elsewhere
    * carries itself and its parent). That count is an observed metric
    * of the round's own checkpoint job, so the loop runs no separate
    * convergence job; a round is 2 shuffles and 1 action, and contracts
    * many hops at once. `nPairs` is the pair count; partitions by
    * [[loopPartitions]]. A graph of up to ~250k both-direction edges (the
    * sf0.01 and sf0.1 pair graphs) so runs in one partition, whose
    * union-find solves it exactly: round 1 already emits a star forest,
    * and the loop stops after it. */
  def componentLabels(pairs: DataFrame, nPairs: Long): DataFrame =
    componentLabels(pairs, nPairs, loopPartitions(nPairs), 50)

  /** Partitions of [[componentLabels]] over `nPairs` undirected pairs:
    * ~250k both-direction edges each, clamped to 1..4096. */
  private def loopPartitions(nPairs: Long): Int =
    math.max(1L, math.min(4096L, 2L * nPairs / 250000L)).toInt

  /** [[componentLabels]] with the partition count and round bound given;
    * past `maxRounds` it throws rather than return labels that are not
    * yet component minima. */
  private[graft] def componentLabels(pairs: DataFrame, nPairs: Long, parts: Int,
                                     maxRounds: Int): DataFrame = {
    val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    var edges = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
    var rounds = 0
    var settled = false
    while (!settled) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"componentLabels did not converge in $maxRounds rounds ($nPairs edges)")
      val unsettled = Observation()
      val roots = edges.where(col("u") =!= col("v"))
        .select(col("u"), col("v"), explode(array(col("u"), col("v"))).as("k"))
        .repartition(parts, col("k"))
        .select(col("u"), col("v")).as(pairEnc)
        .mapPartitions(unionFindRoots)(pairEnc)
        .toDF("x", "r")
        .repartition(parts, col("x")) // the groupBy rides this exchange
        .groupBy(col("x")).agg(collect_set(col("r")).as("rs"))
        .observe(unsettled, count_if(size(col("rs")) > 1).as("n"))
      val next = roots
        .select(explode(array_union(array(col("x")),
                  array_except(col("rs"), array(array_min(col("rs")))))).as("u"),
                array_min(col("rs")).as("v"))
        .serCheckpoint(2L * nPairs)
      settled = unsettled.get("n") == 0L
      if (rounds > 0) dropCheckpoint(edges) // own predecessor; never the caller's pairs
      edges = next
      rounds += 1
    }
    edges.select(col("u").as("id"), col("v").as("lab"))
  }

  /** One partition's union-find over its (u, v) edges: (x, root of x)
    * for every node, with the smallest id as root. Ids are sorted once,
    * so index order is id order and the root is the least index. */
  private def unionFindRoots(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val ends = new scala.collection.mutable.ArrayBuilder.ofLong
    it.foreach { case (u, v) => ends += u; ends += v }
    val e = ends.result()
    val ids = e.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices) if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
    val parent = Array.range(0, n)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    var j = 0
    while (j < e.length) {
      val a = find(java.util.Arrays.binarySearch(ids, 0, n, e(j)))
      val b = find(java.util.Arrays.binarySearch(ids, 0, n, e(j + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      j += 2
    }
    Iterator.range(0, n).map(i => (ids(i), ids(find(i))))
  }

  /** A graph held in one task: `ids` are the sorted distinct ends of its
    * pairs, and node i (the index of `ids(i)`) has the neighbours
    * `nbr(off(i) until off(i + 1))`, as indices, over both directions of
    * every pair — so a pair listed twice is two edges, as in the SQL
    * edge list `pairs ∪ swapped`. */
  private[graft] final case class LocalGraph(ids: Array[Long], off: Array[Int], nbr: Array[Int]) {
    def n: Int = ids.length
    def deg(i: Int): Int = off(i + 1) - off(i)
  }

  private[graft] object LocalGraph {
    def apply(a: Array[Long], b: Array[Long]): LocalGraph = {
      val ids = a ++ b
      java.util.Arrays.sort(ids)
      var n = 0
      for (i <- ids.indices) if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      val ai = a.map(java.util.Arrays.binarySearch(ids, 0, n, _))
      val bi = b.map(java.util.Arrays.binarySearch(ids, 0, n, _))
      val off = new Array[Int](n + 1)
      for (j <- ai.indices) { off(ai(j) + 1) += 1; off(bi(j) + 1) += 1 }
      for (i <- 0 until n) off(i + 1) += off(i)
      val (nbr, fill) = (new Array[Int](off(n)), off.clone())
      for (j <- ai.indices) {
        nbr(fill(ai(j))) = bi(j); fill(ai(j)) += 1
        nbr(fill(bi(j))) = ai(j); fill(bi(j)) += 1
      }
      LocalGraph(java.util.Arrays.copyOf(ids, n), off, nbr)
    }
  }

  /** Runs `solve` once per connected component of the undirected pair
    * list `pairs` (`a_id`, `b_id`), on that component's pairs as two
    * arrays a(j), b(j) in no fixed order, and returns its rows as
    * (`id`, `value`). The components are [[componentLabels]]; one join
    * of `a_id` to the labels tags each pair, and one `groupByKey` hands
    * each component to one call. A round-synchronous algorithm whose
    * round reads only a node's neighbours so runs to its end inside one
    * task with no exchange per round: the block-centric model of Tian
    * et al., "From Think Like a Vertex to Think Like a Graph" (VLDB
    * 2013), with the whole component as the block, so nothing crosses a
    * block boundary. A task's memory is linear in its component. */
  def perComponent(pairs: DataFrame, nPairs: Long)(
      solve: (Array[Long], Array[Long]) => Iterator[(Long, Long)]): DataFrame = {
    val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    pairs.join(componentLabels(pairs, nPairs), col("a_id") === col("id"))
      .select(col("lab"), col("a_id"), col("b_id"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroups { (_, it: Iterator[(Long, Long, Long)]) =>
        val (a, b) = (new scala.collection.mutable.ArrayBuilder.ofLong,
                      new scala.collection.mutable.ArrayBuilder.ofLong)
        it.foreach { case (_, u, v) => a += u; b += v }
        solve(a.result(), b.result())
      }(pairEnc)
      .toDF("id", "value")
  }

  /** Exact hub-salted wedge self-join — the skew guard for the graph
    * family's distance-2 enumerations (q_graph_2hop, q_graph_linkpred).
    *
    * A wedge join `adj(m,u) ⋈ adj(m,w)` keyed on the mid-vertex emits
    * deg(m)² rows per mid-vertex AND lands every one of a hub's rows on
    * ONE reducer (the key is m) — on a power-law graph a degree-10⁶ hub
    * makes 10¹² rows in a single task ("the curse of the last reducer",
    * Suri & Vassilvitskii WWW'11). The enumeration itself is inherent
    * (distance-2 readouts need all wedges); the single-reducer pile-up
    * is not. For mid-vertices with degree > `cap`, the left leg salts
    * by `hash(endpoint) % buckets` and the right leg replicates into
    * all `buckets` salts, so the join key becomes (m, salt) and the
    * hub's deg² work spreads over `buckets` reducers; each (u,w) pair
    * still joins exactly once (at salt hash(u)%buckets), so the output
    * multiset is IDENTICAL to the unsalted join — results stay
    * hash-exact, only the shuffle layout changes. Non-hub rows carry
    * salt 0 and are not replicated: the guard costs nothing when no
    * hub exists (the fixture near-dup graph), and `buckets`× right-leg
    * replication only on hub adjacency when one does.
    *
    * `adj` must have columns (m, e): mid-vertex and endpoint. Returns
    * (m, u, w) = every ordered endpoint pair per mid-vertex; callers
    * apply their own u<w / u≠w / closing filters downstream, exactly
    * as with the plain self-join. `cap` defaults to √(2|adj|) (hub ⇔
    * degree above the Σdeg²-balancing point), floor 64 so tiny graphs
    * never salt. */
  def hubSaltedWedges(s: SparkSession, adj: DataFrame, nAdj: Long,
                      buckets: Int = 8, cap0: Long = 0L): DataFrame = {
    val cap = if (cap0 > 0) cap0
              else math.max(64L, math.ceil(math.sqrt(2.0 * math.max(nAdj, 1L))).toLong)
    val hubs = adj.groupBy(col("m")).agg(count(lit(1)).as("_dm"))
      .where(col("_dm") > cap)
      .select(col("m"), lit(1).as("_hub"))
    // ≤ nAdj/cap rows by construction — always broadcastable relative
    // to the adjacency it came from, but gate anyway (loop-frame rule)
    def withHub(df: DataFrame): DataFrame =
      df.join(gatedBroadcast(s, hubs, nAdj / math.max(cap, 1L) + 1L),
              Seq("m"), "left")
    // Explicit REPARTITION_BY_NUM on both legs (round 14): AQE's
    // input-size coalescing sees only the small adjacency exchanges and
    // collapsed the wedge join to ~5 tasks at sf0.1 (event-log stage
    // evidence: the 31M-row deg² blow-up ran on 5 of 32 cores, 4.9 s of
    // q_graph_linkpred's 7.1 s) — it cannot know the join output is
    // deg(m)² per mid-vertex. Same rationale as the banded-join
    // exchanges in TextDedup; width follows the session conf.
    val wedgeParts =
      2 * s.conf.getOption("spark.sql.shuffle.partitions").map(_.toInt).getOrElse(32)
    val left = withHub(adj)
      .withColumn("_wsalt",
        when(col("_hub").isNotNull, pmod(hash(col("e")), lit(buckets)))
          .otherwise(lit(0)))
      .select(col("m"), col("e").as("u"), col("_wsalt"))
      .repartition(wedgeParts, col("m"), col("_wsalt"))
    val right = withHub(adj)
      .withColumn("_salts",
        when(col("_hub").isNotNull,
             sequence(lit(0), lit(buckets - 1)))
          .otherwise(array(lit(0))))
      .select(col("m"), col("e").as("w"), explode(col("_salts")).as("_wsalt"))
      .repartition(wedgeParts, col("m"), col("_wsalt"))
    left.join(right, Seq("m", "_wsalt"))
      .select(col("m"), col("u"), col("w"))
  }

  /** Scratch root for the sink-op round-trips (write + read-back inside
    * one query). On tmpfs (/dev/shm) when the host has one: the three
    * chronic bench-gate flags (q_source_binaryfile, q_sink_zorder —
    * both rewrite their dirs every run) tracked the BOX's page-cache /
    * ext4 journal state, not the query, and two rounds of "probably
    * environment" is two too many. tmpfs removes the disk from the
    * measurement entirely; semantics are unchanged (the committer
    * protocol, partition layout, and footer reads are identical on any
    * POSIX fs). Overridable via GRAFT_SCRATCH for an explicit-disk
    * run; falls back to /tmp when no tmpfs exists. */
  lazy val scratchRoot: String = {
    val shm = new java.io.File("/dev/shm")
    sys.env.getOrElse("GRAFT_SCRATCH",
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft_sink"
      else "/tmp/graft_sink")
  }
  def sinkDir(sub: String): String = s"$scratchRoot/$sub"

  /** Per-sf scratch dir: a fixed shared path lets two JVMs running at
    * DIFFERENT scale factors (a sweep + the test suite) interleave
    * overwrite-writes and read each other's half-written layouts — the
    * exact race the round-7 sf1 sweep hit on docs_evolving. Same
    * suffix discipline as qScanDpp / the qSinkTimetravel fix. */
  def sinkDir(sub: String, sf: String): String =
    s"$scratchRoot/${sub}_" + sf.replaceAll("[^a-zA-Z0-9.]", "_")

  /** Sweep scratch dirs named `<prefix>_p<pid>_*` whose owning JVM is
    * gone (no /proc/<pid> on this Linux-only box), plus legacy
    * random-suffix `<prefix>*` dirs from the pre-pid naming. Keeps the
    * RAM-backed (/dev/shm) scratch bounded across bench/verify sweeps
    * — the round-7 ADVICE leak — without racing live concurrent JVMs,
    * which always own a dir keyed by their (live) pid. */
  def sweepDeadPidDirs(root: java.io.File, prefix: String): Unit = {
    val pidPat = (java.util.regex.Pattern.quote(prefix) + "_p(\\d+)_.*").r
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .foreach { d =>
        val dead = d.getName match {
          case pidPat(pid) => !new java.io.File(s"/proc/$pid").exists()
          // Legacy random-suffix dirs carry no pid, so liveness is
          // unknowable — age-gate them (round-8 ADVICE): a concurrent
          // JVM built from an older revision may be mid-query in a
          // fresh one, but nothing legitimately holds scratch for
          // hours.
          case _ => System.currentTimeMillis() - d.lastModified() > 3L * 3600 * 1000
        }
        if (dead) deleteRecursive(d)
      }
  }

  private def deleteRecursive(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursive)
    f.delete(): Unit
  }

  /** Deterministic hex bucket of an id — the shared basis for every
    * hash-sampling / split / generation-membership op (q_sample_hash,
    * q_sample_split, q_pipeline_curate, q_scan_merge_schema,
    * q_text_contamination). One definition so a threshold tune can
    * never silently diverge between a standalone op and a composite
    * that claims to reuse it. */
  def md5Bucket(id: Column): Column =
    substring(md5(id.cast("string")), 1, 1)

  /** The 12/2/2 train/val/test assignment (buckets ≤ b / ≤ d / rest). */
  def trainValTest(id: Column): Column =
    when(md5Bucket(id) <= "b", "train")
      .when(md5Bucket(id) <= "d", "val")
      .otherwise("test")

  /** Exact integer floor-division of two non-negative LONG columns —
    * spelled (a − a mod b)/b so the IEEE division is always exact (the
    * numerator is divisible by b and quotients stay < 2^53): keeps the
    * ALL-INTEGER ops off `expr` strings when the operands are computed
    * columns rather than named fields. Callers guarantee b > 0. */
  def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** NTILE(k) bucket from an exact 1-based global rank over n rows —
    * the ANSI rule (bucket size ⌊n/k⌋, the first n mod k buckets take
    * one extra): closed-form and map-side, so the decile/quintile ops
    * need a RANK (see [[rankedByRange]]) but never an ordered ntile
    * window over the data-sized frame. Matches Spark's and DuckDB's
    * NTILE bit-for-bit: with cut = (⌊n/k⌋+1)·(n mod k) ranks ≤ cut sit
    * in the big buckets, the rest in the small ones. */
  def ntileFromRank(r: Column, n: Column, k: Int): Column = {
    val kk = lit(k.toLong)
    val base = idiv(n, kk)
    val rem = pmod(n, kk)
    val cut = (base + lit(1L)) * rem
    when(r <= cut, idiv(r + base, base + lit(1L)))
      .otherwise(rem + idiv(r - cut + base - lit(1L), greatest(base, lit(1L))))
  }

  /** Exact 1-based GLOBAL rank (+ optional inclusive running sums of
    * integral columns) over a total order — the scale-safe replacement
    * for an unpartitioned `Window.orderBy(keys)` row_number / running
    * sum, which Spark executes as ONE task holding the entire frame
    * (the "WindowExec: No Partition Defined" warning). Correct-but-
    * deadly once the frame is data-sized: per-user / per-doc frames are
    * billions of rows in the LLM-pipeline genre this engine claims.
    *
    * Shape — the native [[graft.plans.RankByRangeExec]]: an input that
    * AQE would read as one partition (the gate of
    * [[graft.plans.SmallSortStrategy]]) is ranked in one partition, in
    * one pass. A larger one takes one sampled range exchange on `keys`
    * (sampled boundaries keep skewed, tie-heavy keys balanced: a
    * value-arithmetic bucket would put every x=1 user in one bucket),
    * per-partition counts/sums folded into exclusive offsets, rank =
    * offset + local position. Lazy: no checkpoint, no driver-built
    * DataFrame.
    *
    * `sums` pairs an integral input column with its LONG output column;
    * a running sum is NULL until the first non-null input, as in SQL.
    * Ranks equal the global window's for any TOTAL order — callers
    * append the table PK as tiebreak, exactly as the windows they
    * replace did. */
  def rankedByRange(df: DataFrame, keys: Seq[Column], rankCol: String,
                    sums: Seq[(String, String)] = Nil): DataFrame =
    graft.plans.RankByRange(df, keys, rankCol, sums)

  /** Per-stratum view of a [[rankedByRange]] frame whose order LEADS
    * with `stratum`: each stratum is one contiguous block of the global
    * order, so its exclusive offset is `min(cum − step)` over the block
    * and `local = cum − offset` restarts at the block's first row. With
    * `cum` a rank and `step` = 1 this is the per-stratum rank (offset =
    * min(rank) − 1, total = the stratum's row count); with `cum` a
    * running weight sum and `step` the weight it is the per-stratum
    * running weight (total = the stratum's Σ weight). Adds `localCol`
    * and `totalCol`. The offsets come from one `groupBy` in the engine's
    * own order and join back null-safe (`<=>`), so a NULL stratum is a
    * stratum like any other; the ≤ #strata offset rows broadcast. */
  def withinStratum(ranked: DataFrame, stratum: String, cum: String,
                    step: Column, localCol: String, totalCol: String): DataFrame = {
    val offs = ranked.groupBy(col(stratum).as("__stratum"))
      .agg(min(col(cum) - step).as("__soff"), sum(step).as(totalCol))
    ranked.join(broadcast(offs), col(stratum) <=> col("__stratum"))
      .withColumn(localCol, col(cum) - col("__soff"))
      .drop("__stratum", "__soff")
  }

  /** Gopher-style integer quality rules (word-count band, mean word
    * length via `10·Σlen vs bounds·wc`, distinct-token ratio) — ONE
    * definition shared by q_text_gopher and q_pipeline_curate, on
    * LOWERCASED tokens (q_text_gopher's contract; Σlen = n_chars −
    * (wc − 1) is case-invariant but the distinct count is not).
    * Returns (wordcount rule, word-length rule, repetition rule). */
  def gopherRules(text: Column, nChars: Column): (Column, Column, Column) = {
    val tk = split(lower(text), " ")
    val wc = size(tk)
    val sumLen = nChars - wc + 1
    val dk = size(array_distinct(tk))
    (wc.between(20, 90),
     sumLen * 10 >= wc * 38 && sumLen * 10 <= wc * 46,
     dk * 10 >= wc * 5)
  }
}
