package graft.read

import graft.core._
import graft.manifest.{DataFileInfo, FieldSummary, ManifestFile}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Driver-side pruning: predicate extraction from SQL filter text, and
 * transform-aware matching against partition values, partition-bound
 * summaries (manifest level) and per-file column bounds (stats level).
 *
 * Truth tables mirror the reference predicate/stats matcher
 * (reference: src/planning/pruning/iceberg_predicate.cpp:44-323,
 * iceberg_file_pruner.cpp:12-172, transform semantics
 * src/include/core/expression/iceberg_transform.hpp:64-343):
 * identity compares exactly, monotone transforms (truncate, year/month/day/
 * hour) compare loosely on transformed values, bucket supports only
 * equality, and anything not understood defaults to "might match" (true).
 */
sealed trait PredOp
object PredOp {
  case object Eq extends PredOp
  case object Lt extends PredOp
  case object LtEq extends PredOp
  case object Gt extends PredOp
  case object GtEq extends PredOp
  case object IsNull extends PredOp
  case object IsNotNull extends PredOp
  case class In(values: Seq[Any]) extends PredOp
  /** `st_intersects_bbox(geom, xmin, ymin, xmax, ymax)` — geometry bbox
    * overlap, pruned against Appendix D geometry bounds. */
  case class BBoxIntersects(xmin: Double, ymin: Double, xmax: Double, ymax: Double) extends PredOp
}

/** One conjunct: column `name` `op` `value` (value in internal form).
  * `variantPath` is set for `variant_get(name, path)` predicates on variant
  * columns — the normalized Iceberg bounds key (`$['age']`) to prune on. */
case class ColumnPredicate(name: String, op: PredOp, value: Any,
    variantPath: Option[String] = None)

object Pruning {

  /** Convert a Catalyst literal value to internal form (UTF8String->String,
    * Decimal->java BigDecimal; dates stay Int days, timestamps Long micros). */
  private def internal(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case other => other
  }

  /** Extract AND-conjunct column-vs-literal predicates from a filter SQL
    * string. Anything not understood is dropped (pruning stays conservative;
    * full filter semantics are enforced by Spark on the DataFrame). */
  def extractPredicates(spark: SparkSession, filterSql: String): Seq[ColumnPredicate] = {
    val expr = spark.sessionState.sqlParser.parseExpression(filterSql)
    val conjuncts = splitAnd(expr)
    conjuncts.flatMap(toPredicate)
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: AttributeReference => Some(a.name)
    case Cast(c, _, _, _) => attrName(c) // cast(col) comparisons: compare raw (conservative only for widening)
    case _ => None
  }

  private def litVal(e: Expression): Option[Any] = e match {
    case Literal(v, _) => Some(internal(v))
    case Cast(Literal(v, _), _, _, _) => Some(internal(v))
    case _ => None
  }

  private def toPredicate(e: Expression): Option[ColumnPredicate] = e match {
    case EqualTo(l, r) => cmp(l, r, PredOp.Eq, PredOp.Eq)
    case LessThan(l, r) => cmp(l, r, PredOp.Lt, PredOp.Gt)
    case LessThanOrEqual(l, r) => cmp(l, r, PredOp.LtEq, PredOp.GtEq)
    case GreaterThan(l, r) => cmp(l, r, PredOp.Gt, PredOp.Lt)
    case GreaterThanOrEqual(l, r) => cmp(l, r, PredOp.GtEq, PredOp.LtEq)
    case IsNull(c) => attrName(c).map(n => ColumnPredicate(n, PredOp.IsNull, null))
    case IsNotNull(c) => attrName(c).map(n => ColumnPredicate(n, PredOp.IsNotNull, null))
    case In(c, list) if list.forall(_.isInstanceOf[Literal]) =>
      attrName(c).map(n => ColumnPredicate(n, PredOp.In(list.map(l => internal(l.asInstanceOf[Literal].value))), null))
    // Geometry bbox predicate as a bare conjunct: the engine's spatial
    // surface for the reference's `geom && <box>` (bounding-box overlap).
    case f: UnresolvedFunction if f.nameParts.last.equalsIgnoreCase("st_intersects_bbox") =>
      f.arguments match {
        case Seq(col, a, b, c, d) =>
          for {
            n <- attrName(col)
            x1 <- litDouble(a); y1 <- litDouble(b); x2 <- litDouble(c); y2 <- litDouble(d)
          } yield ColumnPredicate(n, PredOp.BBoxIntersects(x1, y1, x2, y2), null)
        case _ => None
      }
    case _ => None
  }

  private def litDouble(e: Expression): Option[Double] = litVal(e).collect {
    case n: Number => n.doubleValue()
  }

  /** `variant_get(col, '$.path' [, type])` / `try_variant_get(...)` →
    * (column, normalized bounds key). Cast wrappers unwrap like attrName. */
  private def variantRef(e: Expression): Option[(String, String)] = e match {
    case Cast(c, _, _, _) => variantRef(c)
    case f: UnresolvedFunction
        if Seq("variant_get", "try_variant_get").contains(f.nameParts.last.toLowerCase) =>
      f.arguments match {
        case Seq(col, Literal(path: UTF8String, _), _*) =>
          attrName(col).flatMap(n => VariantBounds.normalizePath(path.toString).map((n, _)))
        case _ => None
      }
    case _ => None
  }

  private def cmp(l: Expression, r: Expression, fwd: PredOp, rev: PredOp): Option[ColumnPredicate] =
    (attrName(l), litVal(r)) match {
      case (Some(n), Some(v)) => Some(ColumnPredicate(n, fwd, v))
      case _ => (attrName(r), litVal(l)) match {
        case (Some(n), Some(v)) => Some(ColumnPredicate(n, rev, v))
        case _ => (variantRef(l), litVal(r)) match {
          case (Some((n, p)), Some(v)) => Some(ColumnPredicate(n, fwd, v, Some(p)))
          case _ => (variantRef(r), litVal(l)) match {
            case (Some((n, p)), Some(v)) => Some(ColumnPredicate(n, rev, v, Some(p)))
            case _ => None
          }
        }
      }
    }

  /** [[SingleValue.compare]]; values it cannot order are unknown (None),
    * which keeps the file or manifest. */
  private def tryCompare(a: Any, b: Any): Option[Int] =
    try Some(SingleValue.compare(a, b)) catch { case _: Exception => None }

  // ---------- single-partition-value matching (file level) ----------

  /** Can a file whose partition value (for this predicate's source column,
    * already transformed at write time) is `pv` contain matching rows? */
  def partitionValueMatches(pred: ColumnPredicate, transform: Transform, pv: Any, srcType: IcebergType): Boolean = {
    pred.op match {
      case PredOp.IsNull => transform match {
        case Transforms.Identity => pv == null
        case _ => true
      }
      case PredOp.IsNotNull => transform match {
        case Transforms.Identity => pv != null
        case _ => true
      }
      case _ if pv == null => true // conservative: null partition value
      case PredOp.In(vals) =>
        vals.exists(v => partitionValueMatches(pred.copy(op = PredOp.Eq, value = v), transform, pv, srcType))
      case op =>
        val tl = try transform.apply(pred.value, srcType) catch { case _: Exception => return true }
        if (tl == null) return true
        val c = tryCompare(pv, tl).getOrElse(return true)
        transform match {
          case Transforms.Identity =>
            op match {
              case PredOp.Eq => c == 0
              case PredOp.Lt => c < 0
              case PredOp.LtEq => c <= 0
              case PredOp.Gt => c > 0
              case PredOp.GtEq => c >= 0
              case _ => true
            }
          case t if t.preservesOrder => // monotone-loose
            op match {
              case PredOp.Eq => c == 0
              case PredOp.Lt | PredOp.LtEq => c <= 0
              case PredOp.Gt | PredOp.GtEq => c >= 0
              case _ => true
            }
          case _: Transforms.Bucket =>
            op match {
              case PredOp.Eq => c == 0
              case _ => true // bucket never supports ranges
            }
          case _ => true
        }
    }
  }

  // ---------- bound-range matching (stats + manifest summaries) ----------

  /** Can any value in [lower, upper] (with nullability info) match? Bounds
    * are in internal form; None = unknown = conservative true. */
  def boundsMatch(
      op: PredOp,
      value: Any,
      lower: Option[Any],
      upper: Option[Any],
      mayContainNull: Boolean,
      allNull: Boolean): Boolean = {
    op match {
      case PredOp.IsNull => mayContainNull
      case PredOp.IsNotNull => !allNull
      case _ if allNull => false // only nulls: no value predicate can match
      case PredOp.In(vals) => vals.exists(v => boundsMatch(PredOp.Eq, v, lower, upper, mayContainNull, allNull))
      case PredOp.Eq =>
        lower.forall(lo => tryCompare(value, lo).forall(_ >= 0)) &&
          upper.forall(up => tryCompare(value, up).forall(_ <= 0))
      case PredOp.Lt => lower.forall(lo => tryCompare(lo, value).forall(_ < 0))
      case PredOp.LtEq => lower.forall(lo => tryCompare(lo, value).forall(_ <= 0))
      case PredOp.Gt => upper.forall(up => tryCompare(up, value).forall(_ > 0))
      case PredOp.GtEq => upper.forall(up => tryCompare(up, value).forall(_ >= 0))
      case _ => true
    }
  }

  /** Transform-aware bound matching: bounds were written for the transformed
    * value; transform the predicate constant, then compare loosely per the
    * transform truth table. */
  def transformedBoundsMatch(
      pred: ColumnPredicate,
      transform: Transform,
      srcType: IcebergType,
      lower: Option[Any],
      upper: Option[Any],
      mayContainNull: Boolean): Boolean = {
    pred.op match {
      case PredOp.IsNull => mayContainNull
      case PredOp.IsNotNull => true
      case PredOp.In(vals) =>
        vals.exists(v => transformedBoundsMatch(pred.copy(op = PredOp.Eq, value = v), transform, srcType, lower, upper, mayContainNull))
      case op =>
        val tl = try transform.apply(pred.value, srcType) catch { case _: Exception => return true }
        if (tl == null) return true
        transform match {
          case Transforms.Identity => boundsMatch(op, tl, lower, upper, mayContainNull, allNull = false)
          case t if t.preservesOrder =>
            val looseOp = op match {
              case PredOp.Lt => PredOp.LtEq
              case PredOp.Gt => PredOp.GtEq
              case o => o
            }
            boundsMatch(looseOp, tl, lower, upper, mayContainNull, allNull = false)
          case _: Transforms.Bucket =>
            op match {
              case PredOp.Eq => boundsMatch(PredOp.Eq, tl, lower, upper, mayContainNull, allNull = false)
              case _ => true
            }
          case _ => true
        }
    }
  }

  // ---------- file-level pruning ----------

  /** Per-file partition pruning (reference FilePartitionMatchesFilter). */
  def filePartitionMatches(
      preds: Seq[ColumnPredicate],
      spec: PartitionSpec,
      schema: IcebergSchema,
      partitionValues: Seq[Any]): Boolean = {
    preds.forall { p =>
      val srcField = schema.fieldByPath.get(p.name) // dotted = nested struct leaf
      srcField.forall { sf =>
        spec.fields.zipWithIndex.filter(_._1.sourceId == sf.id).forall { case (pf, idx) =>
          if (idx >= partitionValues.size) true
          else {
            val raw = partitionValues(idx)
            val resT = pf.transform.resultType(sf.fieldType)
            val pv = convertPartitionValue(raw, resT)
            partitionValueMatches(p, pf.transform, pv, sf.fieldType)
          }
        }
      }
    }
  }

  /** Avro raw partition value -> internal value for its result type. */
  def convertPartitionValue(raw: Any, t: IcebergType): Any = {
    import IcebergTypes._
    raw match {
      case null => null
      case b: Array[Byte] => t match {
        case DecimalT(_, s) => new java.math.BigDecimal(new java.math.BigInteger(b), s)
        case UuidT if b.length == 16 =>
          val bb = java.nio.ByteBuffer.wrap(b); new java.util.UUID(bb.getLong, bb.getLong).toString
        case _ => b
      }
      case other => other
    }
  }

  /** Per-file stats pruning over lower/upper bounds + null/value counts
    * (reference FileMatchesFilter; variant branch
    * iceberg_file_pruner.cpp:117-135). */
  def fileStatsMatch(preds: Seq[ColumnPredicate], schema: IcebergSchema, df: DataFileInfo): Boolean = {
    preds.forall { p =>
      schema.fieldByPath.get(p.name).forall { sf =>
        val id = sf.id
        val nullCount = df.nullValueCounts.get(id)
        val valueCount = df.valueCounts.get(id)
        val mayContainNull = nullCount.forall(_ > 0)
        val allNull = (for (n <- nullCount; v <- valueCount) yield n >= v && v > 0).getOrElse(false)
        sf.fieldType match {
          case IcebergTypes.VariantT =>
            p.variantPath match {
              case Some(path) =>
                // Bounds blob is an object keyed by shredded-field JSON path;
                // a missing key (field not shredded in this file) = unknown.
                val lower = df.lowerBounds.get(id).flatMap(b => VariantBounds.decode(b).get(path))
                val upper = df.upperBounds.get(id).flatMap(b => VariantBounds.decode(b).get(path))
                // allNull applies to the whole column, not the sub-field.
                boundsMatch(p.op, p.value, lower, upper, mayContainNull = true, allNull = false)
              case None =>
                // Whole-variant predicate: only nullability is decidable.
                boundsMatch(p.op, p.value, None, None, mayContainNull, allNull)
            }
          case _ if p.variantPath.isDefined => true // path predicate on a non-variant column
          case g: IcebergTypes.GeometryT if g.geography =>
            // Geography bounds may wrap the antimeridian and its edges are
            // geodesics — only nullability is decidable here.
            p.op match {
              case PredOp.IsNull => mayContainNull
              case PredOp.IsNotNull => !allNull
              case PredOp.BBoxIntersects(_, _, _, _) => !allNull
              case _ => true
            }
          case _: IcebergTypes.GeometryT =>
            // Bounds (when present) are Appendix D bbox blobs: lower =
            // (xmin, ymin, ...), upper = (xmax, ymax, ...). Only the bbox
            // predicate and nullability prune; everything else stays
            // conservative (reference iceberg_predicate.cpp:287-291).
            p.op match {
              case PredOp.BBoxIntersects(qx1, qy1, qx2, qy2) =>
                if (allNull) false
                else (df.lowerBounds.get(id).flatMap(Wkb.decodeBound),
                      df.upperBounds.get(id).flatMap(Wkb.decodeBound)) match {
                  case (Some((fx1, fy1)), Some((fx2, fy2))) =>
                    Wkb.intersects(fx1, fy1, fx2, fy2, qx1, qy1, qx2, qy2)
                  case _ => true
                }
              case PredOp.IsNull => mayContainNull
              case PredOp.IsNotNull => !allNull
              case _ => true
            }
          case t =>
            val lower = df.lowerBounds.get(id).flatMap(b => safeDeserialize(b, t))
            val upper = df.upperBounds.get(id).flatMap(b => safeDeserialize(b, t))
            boundsMatch(p.op, p.value, lower, upper, mayContainNull, allNull)
        }
      }
    }
  }

  /** Bounds of types the serde doesn't cover (struct/list/map) must read as
    * unknown, not crash the planner. */
  private def safeDeserialize(bytes: Array[Byte], t: IcebergType): Option[Any] =
    try Option(SingleValue.deserialize(bytes, t)) catch { case _: Exception => None }

  // ---------- manifest-level pruning ----------

  /** Skip whole manifests whose partition summaries can't match
    * (reference ManifestMatchesFilter via InitializeView). */
  def manifestMatches(
      preds: Seq[ColumnPredicate],
      manifest: ManifestFile,
      spec: PartitionSpec,
      schema: IcebergSchema): Boolean = {
    if (manifest.partitions.isEmpty) return true
    preds.forall { p =>
      schema.fieldByPath.get(p.name).forall { sf =>
        spec.fields.zipWithIndex.filter(_._1.sourceId == sf.id).forall { case (pf, idx) =>
          if (idx >= manifest.partitions.size) true
          else {
            val summ = manifest.partitions(idx)
            val resT = pf.transform.resultType(sf.fieldType)
            val lower = summ.lowerBound.map(SingleValue.deserialize(_, resT))
            val upper = summ.upperBound.map(SingleValue.deserialize(_, resT))
            transformedBoundsMatch(p, pf.transform, sf.fieldType, lower, upper, summ.containsNull)
          }
        }
      }
    }
  }
}
