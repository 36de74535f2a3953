package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import graft.core.BloomConfig
import graft.functions.{catalyst => gcat, expressions => gexpr}

/** Runtime Bloom semi-join pruning — the engine's analog of Spark's
  * InjectRuntimeFilter, built on the graft blocked-Bloom aggregate.
  *
  * For an eligible equi-join it rewrites the large (probe) side to
  *
  *   Filter(graft_bloom_might_contain(
  *            ScalarSubquery(Aggregate(bloom_agg_hash(xxhash64(buildKeys*)))),
  *            xxhash64(probeKeys*)),
  *          probeSide)
  *
  * ALL conjunctive equi-keys are hashed into the one filter (a surviving
  * probe row must match on every key), so no key-selection heuristic is
  * needed and the filter is at least as selective as any single key.
  *
  * so the probe side's scan is pre-filtered by a Bloom filter built from
  * the (small) build side BEFORE the join shuffle — the distributed form
  * of the reference's spellcheck pattern (build a dictionary filter,
  * stream the corpus through Has;
  * /root/reference/examples/spellcheck/main.go:33-48). False positives
  * only let extra rows reach the join (which re-checks the real keys);
  * false negatives are impossible, so the rewrite is semantics-preserving
  * for the supported join types.
  *
  * Eligibility (all conf-gated, spark.graft.runtimeFilter.*):
  *  - inner / left-semi / right-outer joins prune the LEFT side;
  *    inner / left-outer prune the RIGHT side (only sides whose
  *    unmatched rows cannot reach the output)
  *  - build side stats.sizeInBytes <= maxBuildBytes, probe side
  *    >= minProbeBytes (don't pay a subquery for a small scan)
  *  - at most one graft runtime filter per probe subtree AND key set
  *    (idempotent under fixed-point batches, while a star join still
  *    gets one filter per dimension)
  *
  * The filter sizes from build-side rowCount stats when available, else
  * `expectedBuildRows`. The subquery result (one dump) is deserialized
  * once per task by BloomMightContainDump's byte-identity cache.
  */
case class GraftRuntimeFilter(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.runtimeFilter.enabled", "false").toBoolean
  private def maxBuildBytes: Long =
    conf.getConfString("spark.graft.runtimeFilter.maxBuildBytes",
      (64L << 20).toString).toLong
  private def minProbeBytes: Long =
    conf.getConfString("spark.graft.runtimeFilter.minProbeBytes",
      (256L << 20).toString).toLong
  private def fpr: Double =
    conf.getConfString("spark.graft.runtimeFilter.fpr", "0.01").toDouble
  private def expectedBuildRows: Long =
    conf.getConfString("spark.graft.runtimeFilter.expectedBuildRows",
      "1000000").toLong

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case j @ Join(left, right, joinType, Some(cond), hint) =>
        val keys = equiKeys(cond, left, right)
        if (keys.isEmpty) j
        else {
          // Hash ALL equi-keys into one filter: strictly more selective
          // than any single-key choice (a probe row must match the build
          // side on every conjunctive key to survive the join anyway),
          // and needs no per-column distinct-count stats to pick a key.
          val (lks, rks) = keys.unzip
          var newLeft = left
          var newRight = right
          if (canPruneLeft(joinType) &&
              eligible(probe = left, probeKeys = lks, build = right))
            newLeft = inject(left, lks, right, rks)
          if (canPruneRight(joinType) &&
              eligible(probe = right, probeKeys = rks, build = left))
            newRight = inject(right, rks, left, lks)
          if ((newLeft eq left) && (newRight eq right)) j
          else Join(newLeft, newRight, joinType, Some(cond), hint)
        }
    }
  }

  private def canPruneLeft(jt: JoinType): Boolean = jt match {
    case Inner | LeftSemi | RightOuter => true
    case _ => false
  }
  private def canPruneRight(jt: JoinType): Boolean = jt match {
    case Inner | LeftOuter => true
    case _ => false
  }

  /** Attribute-level equi-join keys resolvable to (leftKey, rightKey). */
  private def equiKeys(cond: Expression, left: LogicalPlan,
                       right: LogicalPlan): Seq[(Expression, Expression)] =
    splitConjunctivePredicates(cond).collect {
      case EqualTo(a, b)
          if a.references.subsetOf(left.outputSet) &&
            b.references.subsetOf(right.outputSet) &&
            a.deterministic && b.deterministic => (a, b)
      case EqualTo(a, b)
          if b.references.subsetOf(left.outputSet) &&
            a.references.subsetOf(right.outputSet) &&
            a.deterministic && b.deterministic => (b, a)
    }

  private def eligible(probe: LogicalPlan, probeKeys: Seq[Expression],
                       build: LogicalPlan): Boolean =
    !hasGraftFilterOn(probe, probeKeys) &&
      build.stats.sizeInBytes <= maxBuildBytes &&
      probe.stats.sizeInBytes >= minProbeBytes &&
      !build.isStreaming && !probe.isStreaming &&
      deterministicBuild(build)

  /** The build subtree is evaluated TWICE — once under the ScalarSubquery
    * that builds the Bloom filter and once as the join's real build side.
    * If those two evaluations can disagree (rand() filters, sample(),
    * limit without a defining order, dedup that keeps an arbitrary row),
    * the filter could drop probe rows whose keys DO exist in the actual
    * build side — silent wrong results. Mirror Spark's InjectRuntimeFilter
    * creation-side restriction: reject any nondeterministic expression and
    * any row-set-nondeterministic operator.
    */
  private def deterministicBuild(plan: LogicalPlan): Boolean =
    !plan.exists {
      case _: Sample => true
      case _: LocalLimit | _: GlobalLimit | _: Tail => true
      case _: Deduplicate => true // keeps an arbitrary row per dup group
      case p => p.expressions.exists(e => !e.deterministic)
    }

  /** Idempotence guard, keyed to the SPECIFIC probe keys: a star join
    * fact JOIN dim1 JOIN dim2 must get one filter per dimension — a
    * subtree-wide "any graft filter present" check would forfeit every
    * join above the first. Matching Spark's InjectRuntimeFilter, the
    * guard compares the injected probe-hash children semantically, so
    * the fixed-point re-run of the batch skips re-injecting the same
    * keys while different keys remain eligible.
    */
  private def hasGraftFilterOn(plan: LogicalPlan,
                               probeKeys: Seq[Expression]): Boolean =
    plan.exists {
      case Filter(cond, _) =>
        cond.exists {
          case gexpr.BloomMightContainDump(_, h: XxHash64) =>
            h.children.length == probeKeys.length &&
              h.children.zip(probeKeys).forall {
                case (a, b) => a.semanticEquals(b) }
          case _ => false
        }
      case _ => false
    }

  private def inject(probe: LogicalPlan, probeKeys: Seq[Expression],
                     build: LogicalPlan, buildKeys: Seq[Expression]): LogicalPlan = {
    val capacity = build.stats.rowCount
      .map(_.longValue.max(1L)).getOrElse(expectedBuildRows)
    val (nbits, k) = BloomConfig.optimize(capacity, fpr)
    val agg = AggregateExpression(
      gcat.ScalarAggregate(new XxHash64(buildKeys), gcat.SketchKind.Bloom(nbits, k)),
      aggregate.Complete, isDistinct = false)
    val buildPlan = Aggregate(Nil, Seq(Alias(agg, "graft_rt_bloom")()), build)
    val probeExpr = gexpr.BloomMightContainDump(
      ScalarSubquery(buildPlan), new XxHash64(probeKeys))
    Filter(probeExpr, probe)
  }
}
