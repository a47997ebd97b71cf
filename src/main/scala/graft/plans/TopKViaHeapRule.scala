package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** Optimizer rule: rewrite `Filter(row_number <= k)` over a `Window`
  * into the bounded-heap top-k aggregate ([[graft.operators.TopK]]'s
  * plan shape, derived automatically).
  *
  * Spark 3.5+ already k-limits this pattern before the shuffle
  * (`InferWindowGroupLimit`), so shuffle volume matches; what the heap
  * rewrite removes is the two SORTS (map-side and reduce-side) that the
  * sort-based group limit still performs. In practice that trade LOSES:
  * measured across fixture scale, hot-key (8 keys × 8M rows), and spill
  * (4 keys × 50M rows, 2 GB heap) regimes, the window plan wins 1.5–2.6×
  * (`skew_topk` rows in BASELINE.md) — hence [[enabledConf]] defaults
  * off and the rule is opt-in. Output equality (same rows, same rank
  * values) was established independently: the q32 heap formulation
  * hash-matches q11's `row_number` DuckDB oracle row for row.
  *
  * The rewrite fires only when it is provably safe:
  *   - the window computes exactly one expression: `row_number()`;
  *   - the filter is `rank <= IntLiteral` / `rank < IntLiteral`
  *     directly above the window, with 0 < k ≤ maxK;
  *   - partition keys are plain attributes;
  *   - every ORDER BY key is either ascending-nulls-first (mapped to a
  *     plain struct field: struct ordering places nulls first) or
  *     descending-nulls-last on a numeric type (mapped to
  *     `(IsNull(e), -e)`: non-nulls first, then descending) — the two
  *     combinations SQL produces by default.
  *
  * Enable per session with [[TopKViaHeapRule.enable]]
  * (`spark.experimental.extraOptimizations`) or through
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object TopKViaHeapRule extends Rule[LogicalPlan] {

  /** Bounded so the rewrite can never materialize huge per-key heaps. */
  val maxK = 1000

  /** Explicit per-session opt-in: registers the rule AND flips
    * [[enabledConf]] on (calling this IS the opt-in, unlike the
    * extensions path where the rule rides along with unrelated
    * extensions and must not change plans by default).
    */
  def enable(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.conf.set(enabledConf, "true")
    if (!classic.experimental.extraOptimizations.contains(this))
      classic.experimental.extraOptimizations =
        classic.experimental.extraOptimizations :+ this
  }

  /** Conf gate for the extensions-path auto-rewrite — DEFAULT OFF.
    * Measured head-to-head (`skew_topk` rows in BASELINE.md), the
    * sort-based window plan (with Spark's own `InferWindowGroupLimit`
    * pre-limit) beats the heap aggregate in every regime tried: fixture
    * scale (many keys), 8 keys × 8M rows (1.6×), and the spill regime
    * 4 keys × 50M rows under a 2 GB heap (1.5×) — the object-aggregate
    * path's per-row cost outweighs the sorts it saves. The rewrite stays
    * available for workloads that measure a win (set this conf to
    * `true`, or call [[graft.operators.TopK]] directly), but an
    * auto-rewrite that loses measured time must not be the default.
    */
  val enabledConf = "spark.graft.topkHeapRewrite.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(enabledConf, "false").toBoolean) plan
    else plan.transformUp {
      case f @ Filter(cond, w: Window) =>
        rewrite(cond, w).getOrElse(f)
    }

  private def rankLimit(cond: Expression, rankAttr: Attribute): Option[Int] = {
    def lit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) if v >= 1 => Some(v)
      case Literal(v: Long, LongType) if v >= 1 && v <= Int.MaxValue => Some(v.toInt)
      case _ => None
    }
    cond match {
      case LessThanOrEqual(a: Attribute, l) if a.exprId == rankAttr.exprId => lit(l)
      case LessThan(a: Attribute, l) if a.exprId == rankAttr.exprId => lit(l).map(_ - 1)
      case GreaterThanOrEqual(l, a: Attribute) if a.exprId == rankAttr.exprId => lit(l)
      case GreaterThan(l, a: Attribute) if a.exprId == rankAttr.exprId => lit(l).map(_ - 1)
      case _ => None
    }
  }

  /** ORDER BY key → struct fields whose ascending ordering matches it.
    *
    * Descending keys are order-reversed WITHOUT the naive `-e`:
    *  - integral types use bitwise-not (`~e == -1 - e`): an exact,
    *    overflow-free order reversal — `UnaryMinus(MinValue)` throws
    *    under ANSI (the Spark 4 default) or silently wraps without it;
    *  - float/double get a leading `NOT(IsNaN(e))` field so NaN (which
    *    Spark orders largest, hence FIRST under DESC) stays first —
    *    `-NaN` is still NaN and would have sorted it last;
    *  - decimals negate safely (symmetric range).
    */
  private def orderFields(so: SortOrder): Option[Seq[Expression]] = so match {
    case SortOrder(e, Ascending, NullsFirst, _) => Some(Seq(e))
    case SortOrder(e, Descending, NullsLast, _) =>
      import org.apache.spark.sql.types._
      e.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(Seq(IsNull(e), BitwiseNot(e)))
        case DoubleType | FloatType =>
          Some(Seq(IsNull(e), Not(IsNaN(e)), UnaryMinus(e)))
        case _: DecimalType =>
          Some(Seq(IsNull(e), UnaryMinus(e)))
        case _ => None
      }
    case _ => None
  }

  private def rewrite(cond: Expression, w: Window): Option[LogicalPlan] = w match {
    case Window(Seq(alias @ Alias(
           WindowExpression(RowNumber(), WindowSpecDefinition(_, _, _)), _)),
         partitionSpec, orderSpec, child, _)
        if partitionSpec.forall(_.isInstanceOf[Attribute]) && orderSpec.nonEmpty &&
          // the rule runs AFTER NormalizeFloatingNumbers, so grouping on a
          // raw float/double key would split -0.0 vs 0.0 (and NaN bit
          // patterns) into separate groups where the Window partitioned
          // them together — bail on floating partition keys
          partitionSpec.forall(a => !containsFloat(a.dataType)) =>
      val rankAttr = alias.toAttribute
      (for {
        k <- rankLimit(cond, rankAttr)
        if k > 0 && k <= maxK
        ordFields <- traverseOrder(orderSpec)
      } yield (k, ordFields)).flatMap { case (k, ordFields) =>
        val partAttrs = partitionSpec.map(_.asInstanceOf[Attribute])
        // Spark's InferWindowGroupLimit may already have inserted a
        // sort-based per-group pre-limit below the window; the heap
        // subsumes it (and needs no sort), so unwrap it
        val base = child match {
          case WindowGroupLimit(p, o, _: RowNumber, limit, grandchild)
              if p == partitionSpec && o == orderSpec && limit >= k => grandchild
          case other => other
        }
        // partition keys ride along as grouping output — packing them
        // into every heap item would ship them k times per key and mint
        // duplicate-exprId aliases downstream
        val partIds = partAttrs.map(_.exprId).toSet
        val payload = base.output.filterNot(a => partIds.contains(a.exprId))

        // heap item: (order fields..., non-key payload...) — ascending
        // struct ordering == the window's ORDER BY; payload fields act
        // as a final tie-break, which only matters when the ORDER BY
        // itself ties (where row_number is nondeterministic anyway).
        // Every field must be orderable (a map-typed payload column
        // would crash the heap comparator at runtime on a tie).
        // Field names are synthetic and UNIQUE: an ORDER BY column that
        // also appears in the payload would otherwise duplicate its name
        // in the struct, and downstream name-based nested-field rules
        // (e.g. nested-column pruning, which runs after injected rules)
        // throw AMBIGUOUS_REFERENCE_TO_FIELDS.
        val itemFields: Seq[Expression] =
          ordFields.zipWithIndex.map { case (e, i) => Alias(e, s"__o$i")() } ++
          payload.zipWithIndex.map { case (a, i) => Alias(a, s"__p$i")() }
        val item = CreateStruct(itemFields)
        if (!RowOrdering.isOrderable(item.dataType)) None else Some {
        val topAlias = Alias(
          ColumnBridge.collectTopKExpr(item, k, reverse = true), "__top")()
        val agg = Aggregate(partAttrs, partAttrs :+ topAlias, base,
          None)

        val structType = item.dataType.asInstanceOf[StructType]
        val posAttr = AttributeReference("__pos", IntegerType, nullable = false)()
        val rowAttr = AttributeReference("__row", structType, nullable = false)()
        val generate = Generate(PosExplode(topAlias.toAttribute),
          unrequiredChildIndex = Seq(partAttrs.length), outer = false,
          qualifier = None, generatorOutput = Seq(posAttr, rowAttr), agg)

        // restore the original output: partition attrs pass through the
        // aggregate unchanged; non-key columns come back out of the
        // struct under their original exprIds; rank = position + 1
        val restoredPayload: Map[ExprId, NamedExpression] = payload.zipWithIndex.map {
          case (a, i) =>
            a.exprId -> Alias(
              GetStructField(rowAttr, ordFields.length + i, Some(s"__p$i")),
              a.name)(exprId = a.exprId)
        }.toMap
        val restored: Seq[NamedExpression] = base.output.map { a =>
          if (partIds.contains(a.exprId)) a else restoredPayload(a.exprId)
        }
        val rank = Alias(Add(posAttr, Literal(1)), rankAttr.name)(exprId = rankAttr.exprId)
        Project(restored :+ rank, generate)
        }
      }
    case _ => None
  }

  private def containsFloat(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case FloatType | DoubleType => true
      case ArrayType(et, _)       => containsFloat(et)
      case StructType(fields)     => fields.exists(f => containsFloat(f.dataType))
      case MapType(k, v, _)       => containsFloat(k) || containsFloat(v)
      case _                      => false
    }
  }

  private def traverseOrder(orderSpec: Seq[SortOrder]): Option[Seq[Expression]] = {
    val mapped = orderSpec.map(orderFields)
    if (mapped.forall(_.isDefined)) Some(mapped.flatMap(_.get)) else None
  }
}
