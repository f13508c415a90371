package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Window}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/**
 * Registry-wide static plan audit: every `SparkEntry.queries` entry is
 * planned (never executed) once per planning regime and reduced to one
 * [[PlanAudit.PlanRow]] of derived values. ScaleSpec's registry audits pin
 * those rows; this main re-discovers the population when a pin fails, and
 * dumps the formatted plans that optimization rounds cite as evidence.
 *
 * Regime A is the session as configured (the bench shape: AQE on, default
 * broadcast threshold). Regime B is [[PlanAudit.bigCorpus]]: the shape a
 * 100 TB corpus plans to, where joins small-sf size estimates would
 * broadcast shuffle instead. Both run with FrameCache off (a warm memo
 * replaces a whole family's lineage with a parquet scan of the memo) and
 * clear the CacheManager before every build: operators persistTracked()
 * engine-internal frames eagerly at construction, so a frame registered
 * while planning an alphabetically earlier query would otherwise be
 * substituted into later plans, making the counts iteration-order
 * dependent (r13).
 *
 * Usage: runMain graft.tools.PlanAudit <sfDir> [planDir]
 * Output: one JSON line per query with every column, a FAILED TO PLAN line
 * per query that throws, and the exchange population summary. With
 * `planDir`, each query's formatted explain is written there for both
 * regimes: `<q>.bench.txt` and `<q>.bigcorpus.txt`.
 */
object PlanAudit {

  /** One registered query's plan shape. Regime A, from one build:
    *  - `unboundedWindow`: the optimized plan holds a global (no PARTITION
    *    BY) window whose input carries no LIMIT — Exchange SinglePartition
    *    + WindowExec serializes the whole frame through one reducer;
    *  - `cartesian`, `bnlj`: CartesianProduct / BroadcastNestedLoopJoin
    *    nodes over [[allNodes]] of the sparkPlan (physical, before AQE
    *    wrapping, so fully traversable);
    *  - `fallback`: class names of interpreted (CodegenFallback)
    *    expressions — each de-pipelines its WholeStageCodegen span;
    *  - `fat`: fat columns (documents.text, embeddings.embedding) read at
    *    a parquet scan;
    *  - `tables`, `directScans`, `cachedScans`: distinct tables read,
    *    parquet scans outside any persist (each re-runs its lineage per
    *    consumer) and scans reachable only through one. A query whose
    *    direct scans exceed its tables evaluates some lineage more than
    *    once — the shape that cost q_ab_test 2x and windowFunnel nine
    *    event scans for three steps (r12): ReuseExchange does not unify
    *    same-lineage branches when anything differs above the shared
    *    subtree.
    * Regime B ([[bigCorpus]]), from a second build's executedPlan:
    *  - `fatShuffle`, `fatBroadcast`: [[fatShuffled]], [[fatBroadcast]];
    *  - `exchanges`, `reused`, `dupUnreused`: live exchanges, reuse stubs,
    *    and live exchanges canonically equal to another live one. After
    *    ReuseExchangeAndSubquery every exchange it could unify is a stub,
    *    so a surviving duplicate is a real reuse miss — a full redundant
    *    shuffle stage per consumer at scale. */
  final case class PlanRow(
      name: String, unboundedWindow: Boolean, cartesian: Int, bnlj: Int,
      fallback: Seq[String], fat: Seq[String],
      tables: Int, directScans: Int, cachedScans: Int,
      fatShuffle: Seq[String], fatBroadcast: Seq[String],
      exchanges: Int, reused: Int, dupUnreused: Int)

  /** Runs `body` in the shape a 100 TB corpus plans to: auto-broadcast
    * off (small-sf size estimates broadcast the joins a big corpus
    * shuffles, hiding their exchanges; explicit broadcast() hints survive
    * the -1 threshold) and AQE off (so `executedPlan` is static, fully
    * traversable, holds the exchanges EnsureRequirements adds — sparkPlan
    * has none — and has been through ReuseExchangeAndSubquery). The cache
    * is cleared after the switch, so no frame cached under the other conf
    * is substituted, and again after the saved values are restored. */
  def bigCorpus[T](spark: SparkSession)(body: => T): T = {
    val settings = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = settings.map { case (k, _) => k -> spark.conf.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.catalog.clearCache()
    try body
    finally {
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.catalog.clearCache()
    }
  }

  /** Every registered query, built once per regime. A query that throws
    * while planning is an (name, error) entry — a regression to
    * fails-to-plan must be visible to the audit, not silently absent
    * (r12). With `planDir`, also writes both regimes' formatted explains. */
  def report(spark: SparkSession, sfDir: String,
             planDir: Option[java.io.File] = None)
      : (Seq[PlanRow], Seq[(String, String)]) = {
    val rows = Seq.newBuilder[PlanRow]
    val fails = Seq.newBuilder[(String, String)]
    def dump(df: DataFrame, file: String): Unit =
      planDir.foreach { dir =>
        val txt = df.queryExecution.explainString(FormattedMode)
        java.nio.file.Files.write(new java.io.File(dir, file).toPath, txt.getBytes("UTF-8"))
      }
    def hasLimit(p: LogicalPlan): Boolean =
      p.collectFirst { case _: GlobalLimit => (); case _: LocalLimit => () }.nonEmpty
    val frameCache = sys.props.get("graft.frame.cache.disable")
    sys.props("graft.frame.cache.disable") = "1"
    try graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      scala.util.Try {
        spark.catalog.clearCache()
        val df = fn(spark, sfDir)
        dump(df, s"$name.bench.txt")
        val windows = df.queryExecution.optimizedPlan
          .collect { case w: Window if w.partitionSpec.isEmpty => w }
        val plan = df.queryExecution.sparkPlan
        val nodes = allNodes(plan)
        val fallback = nodes.flatMap(_.expressions.flatMap(_.collect {
          case e: CodegenFallback => e.getClass.getName
        })).distinct.sorted
        val scans = nodes.collect { case s: FileSourceScanExec => s }
        val direct = directNodes(plan).count(_.isInstanceOf[FileSourceScanExec])
        val tables = scans.map(_.relation.location.rootPaths.headOption
          .map(_.getName).getOrElse("?")).distinct
        bigCorpus(spark) {
          val big = fn(spark, sfDir)
          dump(big, s"$name.bigcorpus.txt")
          val exec = big.queryExecution.executedPlan
          val bigNodes = directNodes(exec)
          val live = bigNodes.collect { case e: Exchange => e }
          PlanRow(name,
            unboundedWindow = windows.nonEmpty && !windows.forall(w => hasLimit(w.child)),
            cartesian = nodes.count(_.isInstanceOf[CartesianProductExec]),
            bnlj = nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
            fallback = fallback,
            fat = scans.flatMap(_.output.map(_.name)
              .filter(c => c == "text" || c == "embedding")).distinct.sorted,
            tables = tables.size, directScans = direct,
            cachedScans = scans.size - direct,
            fatShuffle = fatShuffled(exec), fatBroadcast = fatBroadcast(exec),
            exchanges = live.size,
            reused = bigNodes.count(_.isInstanceOf[ReusedExchangeExec]),
            dupUnreused = live.groupBy(_.canonicalized).values.map(_.size - 1).sum)
        }
      } match {
        case scala.util.Success(r) => rows += r
        case scala.util.Failure(e) =>
          fails += ((name, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    } finally {
      frameCache.fold(sys.props.remove("graft.frame.cache.disable"))(
        sys.props.put("graft.frame.cache.disable", _))
      spark.catalog.clearCache()
    }
    (rows.result(), fails.result())
  }

  /** Every node that runs once per consumer: children plus subquery plans,
    * entering nested adaptive roots, stopping at the curtains whose work
    * runs once elsewhere — InMemoryTableScan (the persisted subtree
    * materializes once), ReusedExchange (the original is counted where it
    * lives) and ReusedSubquery (it shares its SubqueryExec with the
    * original site; walking it again counted every live exchange of the
    * shared subtree as a false duplicate, r15). [[allNodes]] instead walks
    * through persists and skips subqueries. */
  private def directNodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    def walk(n: SparkPlan): Unit = {
      out += n
      n match {
        case _: InMemoryTableScanExec | _: ReusedExchangeExec | _: ReusedSubqueryExec =>
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case other =>
          other.children.foreach(walk)
          other.subqueries.foreach(walk)
      }
    }
    walk(p)
    out.result()
  }

  /** Every node of `p` INCLUDING the plans behind the two leaf-node
    * curtains `collect` stops at: InMemoryTableScanExec (persist()
    * boundaries — e.g. the LSH bands frame hides its band exchange there)
    * and AdaptiveSparkPlanExec (AQE wraps cached subtrees in their own
    * adaptive root, and `sparkPlan` children may carry one too). Subquery
    * plans are not chased: the engine's scalar-bounds pattern is
    * crossJoin(broadcast(...)), never a subquery expression. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p.collect { case n => n }
    here ++ here.flatMap {
      case imts: InMemoryTableScanExec => allNodes(imts.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec =>
        allNodes(a.inputPlan)
      case _ => Nil
    }
  }

  /** Names of fat columns (documents.text, embeddings.embedding — the
    * payload bytes that dominate a 100 TB corpus) carried through any
    * ShuffleExchange of `p`, traced by ATTRIBUTE LINEAGE rather than by
    * name: the census seeds at the parquet scans that read the columns
    * and follows every identity rename (`Alias(AttributeReference)` —
    * the shape `col("embedding").as("emb1")` plans to), so the LSH pair
    * join's emb1/emb2 renames no longer evade it. DERIVED values
    * (norms, hashes, shingles, truncated prefixes) are deliberately not
    * tainted — they reference a fat column but do not carry its bytes;
    * the hazard this census pins is the bytes themselves crossing the
    * wire.
    *
    * Taint flows bottom-up (children before a node's own aliases) and
    * through the same curtains [[allNodes]] chases — persist boundaries
    * (InMemoryTableScan, positional output mapping) and nested adaptive
    * roots — plus ReusedExchange's output remap. Returned names are the
    * attribute names AT the exchange (`emb1`, not `embedding`), prefixed
    * with the seed name they alias (`embedding->emb1`) so a report reads
    * without chasing exprIds. */
  def fatShuffled(p: SparkPlan,
                  fatNames: Set[String] = Set("text", "embedding")): Seq[String] =
    fatCensus(p, fatNames) { (node, taintOf, emit) =>
      node match {
        case x: ShuffleExchangeExec =>
          x.output.foreach(a =>
            taintOf(a.exprId).foreach(seed => emit(s"$seed->${a.name}")))
        case _ =>
      }
    }

  /** Fat columns carried through any BroadcastExchange of `p` — the OTHER
    * way corpus payload bytes can leave the scan: `broadcast()` hints are
    * honored unconditionally, so a corpus-sized frame behind one is
    * collected whole to the driver and shipped to every executor (the r11
    * ADVICE finding: scoreCandidates broadcast the full-corpus qe, and the
    * shuffle census was structurally blind to it). Same lineage taint as
    * [[fatShuffled]]; each hit is suffixed with a boundedness marker —
    * `!unbounded` when the broadcast subtree contains NO row-bounding node
    * ON THE TAINTED DATAFLOW PATH — a FilterExec with at least one
    * non-IsNotNull conjunct, a GlobalLimit, or a TakeOrderedAndProject
    * whose own output carries the fat taint (planning pushes
    * `isnotnull(joinkey)` filters under EVERY equi-join's broadcast side,
    * so an IsNotNull-only filter must not count as a bound). Two evidence
    * classes the r11 form accepted are deliberately EXCLUDED (r11 ADVICE):
    * a LocalLimitExec bounds rows PER PARTITION only (n_partitions × limit
    * is unbounded in the partition count), and a LocalTableScanExec is an
    * untainted leaf by construction (taint seeds at parquet scans), so
    * either could only ever testify for an UNRELATED branch nested under
    * the exchange — e.g. the bounded build side of an inner join whose
    * probe side is the corpus — masking the exact hazard this census pins.
    * Requiring taint on the bounding node's output ties the evidence to
    * the fat column's own lineage. The marker is a tripwire, not a proof:
    * a filter does not guarantee small cardinality, but every DESIGNED fat
    * broadcast in the engine is parameter-bounded by exactly such a node
    * (vec_id < numQueries probes, limit-k codebooks), so a regression that
    * drops the bound flips the pinned string. */
  def fatBroadcast(p: SparkPlan,
                   fatNames: Set[String] = Set("text", "embedding")): Seq[String] =
    fatCensus(p, fatNames) { (node, taintOf, emit) =>
      node match {
        case x: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          import org.apache.spark.sql.catalyst.expressions.{And, Expression, IsNotNull}
          def conjuncts(e: Expression): Seq[Expression] = e match {
            case And(l, r) => conjuncts(l) ++ conjuncts(r)
            case other => Seq(other)
          }
          val sub = allNodes(x.child)
          def onTaintedPath(n: SparkPlan): Boolean =
            n.output.exists(a => taintOf(a.exprId).isDefined)
          val bounded = sub.exists {
            case f: org.apache.spark.sql.execution.FilterExec =>
              onTaintedPath(f) && conjuncts(f.condition).exists(!_.isInstanceOf[IsNotNull])
            case g: org.apache.spark.sql.execution.GlobalLimitExec => onTaintedPath(g)
            case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => onTaintedPath(t)
            case _ => false
          }
          val mark = if (bounded) "" else "!unbounded"
          x.output.foreach(a =>
            taintOf(a.exprId).foreach(seed => emit(s"$seed->${a.name}$mark")))
        case _ =>
      }
    }

  /** Shared lineage-taint walk behind [[fatShuffled]] and [[fatBroadcast]]:
    * seeds taint at the parquet scans reading `fatNames`, propagates through
    * identity aliases, persist/reuse rebinds and adaptive curtains, and
    * calls `onNode(node, taintOf, emit)` at every node (children first) so
    * the caller decides which node type constitutes a hazard crossing. */
  private def fatCensus(p: SparkPlan, fatNames: Set[String])(
      onNode: (SparkPlan, ExprId => Option[String], String => Unit) => Unit): Seq[String] = {
    // exprId -> seed column name it (transitively) aliases
    val taint = scala.collection.mutable.Map[ExprId, String]()
    val hits = scala.collection.mutable.SortedSet[String]()
    def walk(node: SparkPlan): Unit = {
      node.children.foreach(walk)
      node match {
        case imts: InMemoryTableScanExec =>
          walk(imts.relation.cachedPlan)
          // When the CacheManager substitutes an entry cached by an
          // EARLIER query, it rebinds the relation's output to fresh
          // exprIds positionally aligned with the cached plan's output
          // (InMemoryRelation.withOutput); the IMTS then selects a subset
          // of relation.output. Remap taint at the RELATION level — full
          // schema on both sides, so positions can't mis-pair the way an
          // imts.output zip would under column pruning. Same-query reuse
          // (identical exprIds) degenerates to a no-op self-map.
          imts.relation.cachedPlan.output.zip(imts.relation.output).foreach {
            case (src, out) => taint.get(src.exprId).foreach(taint(out.exprId) = _)
          }
        case a: AdaptiveSparkPlanExec =>
          walk(a.inputPlan)
        case r: ReusedExchangeExec =>
          walk(r.child)
          r.child.output.zip(r.output).foreach {
            case (src, out) => taint.get(src.exprId).foreach(taint(out.exprId) = _)
          }
        case s: FileSourceScanExec =>
          s.output.filter(a => fatNames(a.name))
            .foreach(a => taint(a.exprId) = a.name)
        case _ =>
      }
      node.expressions.foreach(_.foreach {
        case al: Alias => al.child match {
          case ar: AttributeReference =>
            taint.get(ar.exprId).foreach(taint(al.exprId) = _)
          case _ =>
        }
        case _ =>
      })
      onNode(node, taint.get, hits += _)
    }
    walk(p)
    hits.toSeq
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanAudit <sfDir> [planDir]")
    val planDir = args.lift(1).map(new java.io.File(_))
    planDir.foreach(_.mkdirs())
    val spark = graft.Session.builder(graft.Session.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val (rows, fails) = report(spark, args(0), planDir)
      def strs(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      rows.foreach { r =>
        println(s"""{"q":"${r.name}","unbounded_window":${r.unboundedWindow},""" +
          s""""cartesian":${r.cartesian},"bnlj":${r.bnlj},""" +
          s""""fallback":${strs(r.fallback.map(_.split('.').last))},""" +
          s""""fat":${strs(r.fat)},"fat_shuffle":${strs(r.fatShuffle)},""" +
          s""""fat_broadcast":${strs(r.fatBroadcast)},"tables":${r.tables},""" +
          s""""direct_scans":${r.directScans},"cached_scans":${r.cachedScans},""" +
          s""""excess":${r.directScans - r.tables},"exchanges":${r.exchanges},""" +
          s""""reused":${r.reused},"dup_unreused":${r.dupUnreused}}""")
      }
      fails.foreach { case (name, err) => println(f"$name%-34s FAILED TO PLAN: $err") }
      println(s"[plan-audit] ${rows.size} queries: ${rows.map(_.exchanges).sum} live " +
        s"exchanges, ${rows.map(_.reused).sum} reused stubs, " +
        s"${rows.map(_.dupUnreused).sum} canonical duplicates unreused " +
        s"(${rows.count(_.dupUnreused > 0)} queries affected); ${fails.size} failed to plan")
    } finally spark.stop()
  }
}
