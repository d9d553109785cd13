package graft.plans

import graft.codec.{BlockCompression, ByteReader, Chunks, Codecs, StreamedTokens}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, NamedExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import scala.jdk.CollectionConverters._

/** Columnar chunk-decode as a first-class Catalyst operator.
  *
  * `DecodeChunks` is a logical node over any plan that outputs graft
  * chunk rows; the strategy plans it as `DecodeChunksExec`, a
  * columnar-output (`supportsColumnar`) physical operator that decodes
  * each chunk straight into reused `OnHeapColumnVector`s and emits one
  * `ColumnarBatch` per chunk — zero per-row allocation, the engine
  * analog of the reference's decode-in-place contract
  * (encoding/encoding.go:69-71). Spark inserts its codegen'd
  * ColumnarToRow transition when a row consumer sits on top, so
  * downstream operators read vector values inside whole-stage codegen.
  *
  * Projection is pushed down twice:
  *  - `DecodeChunksPruning` (an optimizer rule) shrinks the node's
  *    output to the token columns a parent Project actually references;
  *  - the strategy then selects only the chunk STREAMS those columns
  *    need, so parquet column pruning skips the untouched payloads
  *    entirely (reference reads pages strictly per requested column,
  *    file.go:439-485).
  */
case class DecodeChunks(output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  // no constructor validation: Catalyst canonicalization rebuilds the node
  // with normalized attribute names; GraftPlans.decodeDF validates instead

  def neededChunkCols: Seq[String] = DecodeChunks.chunkColsFor(output.map(_.name))

  override def references: AttributeSet =
    AttributeSet(child.output.filter(a => neededChunkCols.contains(a.name)))

  override def maxRows: Option[Long] = None

  override protected def withNewChildInternal(newChild: LogicalPlan): DecodeChunks =
    copy(child = newChild)
}

object DecodeChunks {
  val TokenCols: Seq[String] = Seq("doc_id", "tokens", "n_tok", "source")

  /** The chunk columns a projected decode must fetch. n_tok needs the
    * tokens stream only for its null bitmap (rows with NULL tokens carry
    * n_tok = -1); the stream's payload DECODE is still skipped. */
  def chunkColsFor(outCols: Seq[String]): Seq[String] = {
    val b = scala.collection.mutable.LinkedHashSet("num_rows", "chunk_id", "stream_crcs")
    if (outCols.contains("doc_id")) b += "docid_bin"
    if (outCols.contains("tokens") || outCols.contains("n_tok")) { b += "lens_bin"; b += "tokens_bin" }
    if (outCols.contains("source")) b += "source_bin"
    b.toSeq
  }

  def attrFor(name: String): AttributeReference = name match {
    case "doc_id" => AttributeReference("doc_id", StringType, nullable = false)()
    case "tokens" =>
      AttributeReference("tokens", ArrayType(IntegerType, containsNull = false),
        nullable = true)()
    case "n_tok" => AttributeReference("n_tok", IntegerType, nullable = false)()
    case "source" => AttributeReference("source", StringType, nullable = true)()
    case other => throw new IllegalArgumentException(s"not a token column: $other")
  }
}

/** Prune decode output to what a parent Project references — Catalyst's
  * ColumnPruning already pushes a minimal Project under aggregates and
  * joins, so `decodeDF(t).agg(sum("n_tok"))` automatically skips the
  * doc_id/source/token-payload decode without the caller asking. The
  * node's child Project (built by GraftPlans.decodeDF) is re-narrowed in
  * the same step so the chunk scan fetches fewer streams. */
object DecodeChunksPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // projList may be EMPTY (count(*) references no columns): the decode
    // then fetches only chunk metadata and emits zero-column batches with
    // the right row counts — no stream is read at all
    case p @ Project(projList, dc: DecodeChunks)
        if projList.forall(_.isInstanceOf[AttributeReference]) &&
          projList.map(_.exprId).toSet.subsetOf(dc.output.map(_.exprId).toSet) &&
          projList.length < dc.output.length =>
      val keep = projList.map(_.exprId).toSet
      val pruned = dc.output.filter(a => keep.contains(a.exprId))
      val needed = DecodeChunks.chunkColsFor(pruned.map(_.name))
      val newChild = dc.child match {
        // re-narrow the projection this plan was built with
        case Project(_, src) if needed.forall(n => src.output.exists(_.name == n)) =>
          Project(needed.map(n => src.output.find(_.name == n).get), src)
        case other => other
      }
      p.copy(child = DecodeChunks(pruned, newChild))
  }
}

/** Plans DecodeChunks 1:1 onto DecodeChunksExec. Deliberately NO
  * synthetic logical nodes here: an earlier version fabricated a fresh
  * Project inside the strategy, which left AQE's physical stages without
  * a counterpart in its logical plan — every replan iteration then
  * re-materialized the (cached) chunk-scan stage and the adaptive loop
  * never converged. The projection lives in the REAL logical plan
  * instead (GraftPlans.decodeDF / DecodeChunksPruning). */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case dc: DecodeChunks =>
      dc.neededChunkCols.foreach { n =>
        require(dc.child.output.exists(_.name == n),
          s"chunk table has no column '$n'")
      }
      DecodeChunksExec(dc.output, planLater(dc.child)) :: Nil
    case dg: DecodeGenericChunks =>
      DecodeGenericChunksExec(dg.output, dg.colIndices, dg.colTypes,
        planLater(dg.child)) :: Nil
    case _ => Nil
  }
}

/** Columnar decode for GENERIC (any-schema) chunk tables: output/
  * colIndices/colTypes are parallel — each output attribute decodes the
  * chunk column at its index. The child is the projected chunk metadata
  * (num_rows, chunk_id, col_crcs) plus one `bin_<i>` payload column per
  * decoded engine column, so projection saves parquet bytes as well as
  * decode CPU and CRC work. */
case class DecodeGenericChunks(output: Seq[Attribute], colIndices: Seq[Int],
                               colTypes: Seq[String], child: LogicalPlan)
    extends UnaryNode {
  override def references: AttributeSet = AttributeSet(child.output)
  override def maxRows: Option[Long] = None
  override protected def withNewChildInternal(newChild: LogicalPlan): DecodeGenericChunks =
    copy(child = newChild)
}

/** Same automatic pruning as the token node: a narrower parent Project
  * drops decode work column by column and re-narrows the node's child
  * projection, so the scan skips the dropped columns' `bin_<i>` BYTES. */
object DecodeGenericChunksPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projList, dg: DecodeGenericChunks)
        if projList.forall(_.isInstanceOf[AttributeReference]) &&
          projList.map(_.exprId).toSet.subsetOf(dg.output.map(_.exprId).toSet) &&
          projList.length < dg.output.length =>
      val keep = projList.map(_.exprId).toSet
      val kept = dg.output.zipWithIndex.filter { case (a, _) => keep.contains(a.exprId) }
      val keptIndices = kept.map { case (_, i) => dg.colIndices(i) }
      val newChild = dg.child match {
        case Project(_, src) =>
          // ALL kept bins must exist — silently dropping a missing one
          // would surface later as a NoSuchElementException inside the
          // batch iterator; fall back to the unmodified child instead
          val needed = Seq("num_rows", "chunk_id", "col_crcs") ++
            keptIndices.map(ci => s"bin_$ci")
          if (needed.forall(n => src.output.exists(_.name == n)))
            Project(needed.map(n => src.output.find(_.name == n).get), src)
          else dg.child
        case other => other
      }
      p.copy(child = DecodeGenericChunks(
        kept.map(_._1), keptIndices, kept.map { case (_, i) => dg.colTypes(i) }, newChild))
  }
}

/** Automatic chunk-level predicate pushdown for generic decodes: a
  * row-level Filter over DecodeGenericChunks grows a CHUNK-metadata
  * filter directly on the source relation (BELOW the node's stream
  * projection, so the stats/bloom columns are scanned only when a
  * filter exists) — per-column min/max interval checks, an
  * all-null-chunk check, and a split-block bloom probe for equalities.
  * Chunks that provably contain no matching row are never fetched,
  * CRC'd, or decoded. The original row Filter stays on top for
  * exactness; every chunk check is an implication of the row predicate,
  * so an unhandled shape simply prunes nothing. Users write
  * `readTable(...).filter(...)` — no manual pruneRange/pruneBloom —
  * the declarative analog of the reference's column-index + bloom
  * search (column_index.go:259-272, bloom.go:16-70, search.go:31-101).
  */
object GenericChunkFilterPushdown extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, dg: DecodeGenericChunks) =>
      dg.child match {
        // src still unfiltered (idempotence across fixpoint iterations)
        // and carrying the chunk stats columns
        case Project(projList, src)
            if !src.isInstanceOf[Filter] &&
              Seq("col_mins", "col_maxs", "col_nulls", "col_blooms", "num_rows")
                .forall(n => src.output.exists(_.name == n)) =>
          buildChunkCond(cond, dg, src) match {
            case Some(cc) =>
              f.copy(child = dg.copy(child = Project(projList, Filter(cc, src))))
            case None => f
          }
        case _ => f
      }
  }

  private def buildChunkCond(cond: Expression, dg: DecodeGenericChunks,
                             src: LogicalPlan): Option[Expression] = try {
    def attr(n: String): Attribute = src.output.find(_.name == n).get
    val mins = attr("col_mins")
    val maxs = attr("col_maxs")
    val nulls = attr("col_nulls")
    val blooms = attr("col_blooms")
    val numRows = attr("num_rows")
    val byId: Map[ExprId, (Int, String)] =
      dg.output.zipWithIndex.map { case (a, k) =>
        a.exprId -> (dg.colIndices(k), dg.colTypes(k))
      }.toMap
    def item(ar: Attribute, i: Int): Expression = GetArrayItem(ar, Literal(i))

    /** Literal → its value in the stat representation + the type the
      * stat string casts to for the comparison. Decimals round
      * CONSERVATIVELY by bound direction (the interval only widens). */
    def convert(tpe: String, lit: Literal, isLo: Boolean): Option[(Literal, DataType)] = {
      if (lit.value == null) return None
      tpe match {
        case "int" | "date" =>
          Some((Literal(lit.value.asInstanceOf[Int].toLong), LongType))
        case "bigint" | "timestamp" | "timestamp_ntz" =>
          Some((Literal(lit.value.asInstanceOf[Long]), LongType))
        case t if t.startsWith("decimal(") =>
          val scale = t.stripPrefix("decimal(").stripSuffix(")").split(",")(1).trim.toInt
          lit.value match {
            case d: org.apache.spark.sql.types.Decimal =>
              val bd = d.toJavaBigDecimal.setScale(scale,
                if (isLo) java.math.RoundingMode.CEILING
                else java.math.RoundingMode.FLOOR)
              Some((Literal(bd.unscaledValue().longValueExact()), LongType))
            case _ => None
          }
        case "double" =>
          val v = lit.value.asInstanceOf[Double]
          if (v.isNaN) None else Some((Literal(v), DoubleType))
        case "float" =>
          // compare in FLOAT space: the stat string round-trips through
          // Float.toString/parseFloat exactly, while widening either side
          // to double independently does NOT (0.7f -> "0.7" casts to the
          // double 0.7, but 0.7f.toDouble = 0.699999988...; the mismatch
          // pruned chunks containing exact float matches)
          val v = lit.value.asInstanceOf[Float]
          if (v.isNaN) None else Some((Literal(v, FloatType), FloatType))
        case "string" => Some((lit, StringType))
        case _ => None
      }
    }
    def statCast(e: Expression, ct: DataType): Expression =
      if (ct == StringType) e else Cast(e, ct)
    // a chunk whose every row is null for the column can satisfy no
    // comparison predicate
    def notAllNull(i: Int): Expression = LessThan(item(nulls, i), numRows)
    def hiCheck(i: Int, tpe: String, l: Literal): Seq[Expression] =
      convert(tpe, l, isLo = false).map { case (sl, ct) =>
        Seq(Or(IsNull(item(mins, i)),
          LessThanOrEqual(statCast(item(mins, i), ct), sl)), notAllNull(i))
      }.getOrElse(Nil)
    def loCheck(i: Int, tpe: String, l: Literal): Seq[Expression] =
      convert(tpe, l, isLo = true).map { case (sl, ct) =>
        Seq(Or(IsNull(item(maxs, i)),
          GreaterThanOrEqual(statCast(item(maxs, i), ct), sl)), notAllNull(i))
      }.getOrElse(Nil)
    def bloomCheck(i: Int, tpe: String, l: Literal): Seq[Expression] = {
      if (l.value == null) return Nil
      val hash: Option[Int] = tpe match {
        case "int" | "date" => Some(l.value.asInstanceOf[Int])
        case "bigint" | "timestamp" | "timestamp_ntz" =>
          Some(graft.codec.Bloom.foldLong(l.value.asInstanceOf[Long]))
        case "string" =>
          Some(graft.codec.Bloom.fnv1a(
            l.value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes))
        case _ => None // empty/absent blooms keep the chunk anyway
      }
      hash.map(h =>
        graft.functions.BloomProbe(item(blooms, i), Literal(h)): Expression).toSeq
    }
    def on(at: AttributeReference)(f: (Int, String) => Seq[Expression]): Seq[Expression] =
      byId.get(at.exprId).map { case (i, tpe) => f(i, tpe) }.getOrElse(Nil)
    // IN-list: the chunk must intersect [min(list), max(list)] AND (when
    // every value hashes) pass at least one bloom probe
    def inCheck(i: Int, tpe: String, lits: Seq[Literal]): Seq[Expression] = {
      // Spark's NaN = NaN is TRUE, but a NaN match lies outside any
      // [min(list), max(list)] interval (the stats exclude NaN too) —
      // an IN list containing NaN must not prune at all
      val hasNaN = lits.exists(l => l.value match {
        case d: java.lang.Double => d.isNaN
        case f: java.lang.Float => f.isNaN
        case _ => false
      })
      if (hasNaN) return Nil
      val ordered = lits.sortWith { (a, b) =>
        (a.value, b.value) match {
          // exact integral compares first: doubleValue() loses precision
          // past 2^53 and a mis-picked extreme would prune unsoundly
          case (x: java.lang.Long, y: java.lang.Long) => x < y
          case (x: java.lang.Integer, y: java.lang.Integer) => x < y
          case (x: java.lang.Number, y: java.lang.Number) =>
            x.doubleValue() < y.doubleValue()
          case (x: org.apache.spark.unsafe.types.UTF8String,
                y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y) < 0
          case (x: org.apache.spark.sql.types.Decimal,
                y: org.apache.spark.sql.types.Decimal) => x.compareTo(y) < 0
          case _ => throw new IllegalArgumentException("unorderable IN list")
        }
      }
      val range = hiCheck(i, tpe, ordered.last) ++ loCheck(i, tpe, ordered.head)
      val probes = lits.map(l => bloomCheck(i, tpe, l))
      val blooms =
        if (probes.forall(_.nonEmpty)) Seq(probes.map(_.head).reduce(Or)) else Nil
      range ++ blooms
    }
    // startsWith(prefix): matches live in [prefix, nextPrefix) byte-wise
    def prefixCheck(i: Int, tpe: String, l: Literal): Seq[Expression] = {
      if (tpe != "string" || l.value == null) return Nil
      val p = l.value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
      if (p.isEmpty) return Nil
      val lower = Or(IsNull(item(maxs, i)), GreaterThanOrEqual(item(maxs, i), l))
      var cut = p.length - 1
      while (cut >= 0 && p(cut) == 0xFF.toByte) cut -= 1
      val upper =
        if (cut < 0) Nil
        else {
          val u = java.util.Arrays.copyOf(p, cut + 1)
          u(cut) = (u(cut) + 1).toByte
          Seq(Or(IsNull(item(mins, i)), LessThan(item(mins, i),
            Literal(org.apache.spark.unsafe.types.UTF8String.fromBytes(u), StringType))))
        }
      Seq(lower, notAllNull(i)) ++ upper
    }

    val checks = splitConjunctivePredicates(cond).flatMap {
      case EqualTo(at: AttributeReference, l: Literal) =>
        on(at)((i, t) => hiCheck(i, t, l) ++ loCheck(i, t, l) ++ bloomCheck(i, t, l))
      case EqualTo(l: Literal, at: AttributeReference) =>
        on(at)((i, t) => hiCheck(i, t, l) ++ loCheck(i, t, l) ++ bloomCheck(i, t, l))
      case LessThan(at: AttributeReference, l: Literal) => on(at)(hiCheck(_, _, l))
      case LessThanOrEqual(at: AttributeReference, l: Literal) => on(at)(hiCheck(_, _, l))
      case GreaterThan(at: AttributeReference, l: Literal) => on(at)(loCheck(_, _, l))
      case GreaterThanOrEqual(at: AttributeReference, l: Literal) => on(at)(loCheck(_, _, l))
      case LessThan(l: Literal, at: AttributeReference) => on(at)(loCheck(_, _, l))
      case LessThanOrEqual(l: Literal, at: AttributeReference) => on(at)(loCheck(_, _, l))
      case GreaterThan(l: Literal, at: AttributeReference) => on(at)(hiCheck(_, _, l))
      case GreaterThanOrEqual(l: Literal, at: AttributeReference) => on(at)(hiCheck(_, _, l))
      case In(at: AttributeReference, vs)
          if vs.nonEmpty && vs.forall {
            case lit: Literal => lit.value != null
            case _ => false
          } =>
        on(at)(inCheck(_, _, vs.map(_.asInstanceOf[Literal])))
      case StartsWith(at: AttributeReference, l: Literal) => on(at)(prefixCheck(_, _, l))
      case _ => Nil
    }
    if (checks.isEmpty) None else Some(checks.distinct.reduce(And))
  } catch { case scala.util.control.NonFatal(_) => None }
}

/** Token-table analog of [[GenericChunkFilterPushdown]]: `doc_id`
  * comparisons become [first_doc_id, last_doc_id] interval checks (the
  * persisted per-chunk key range — lineage doubling as an index), and
  * `array_contains(tokens, t)` becomes the [tokens_min, tokens_max]
  * interval check plus the CRC-verified split-block bloom probe — the
  * exact pruning `EncodePipeline.searchToken` applies by hand, grown
  * automatically under any plain `.filter` over a relation-backed
  * chunk table. */
object TokenChunkFilterPushdown extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, dc: DecodeChunks) =>
      dc.child match {
        case Project(projList, src)
            if !src.isInstanceOf[Filter] &&
              Seq("first_doc_id", "last_doc_id", "tokens_min", "tokens_max",
                "tokens_bloom", "stream_crcs")
                .forall(n => src.output.exists(_.name == n)) =>
          buildChunkCond(cond, dc, src) match {
            case Some(cc) =>
              f.copy(child = dc.copy(child = Project(projList, Filter(cc, src))))
            case None => f
          }
        case _ => f
      }
  }

  private def buildChunkCond(cond: Expression, dc: DecodeChunks,
                             src: LogicalPlan): Option[Expression] = try {
    def attr(n: String): Attribute = src.output.find(_.name == n).get
    val first = attr("first_doc_id")
    val last = attr("last_doc_id")
    val tMin = attr("tokens_min")
    val tMax = attr("tokens_max")
    val bloom = attr("tokens_bloom")
    val crcs = attr("stream_crcs")
    val docId = dc.output.find(_.name == "doc_id").map(_.exprId)
    val tokens = dc.output.find(_.name == "tokens").map(_.exprId)
    def isDoc(a: AttributeReference) = docId.contains(a.exprId)
    def isTok(a: AttributeReference) = tokens.contains(a.exprId)
    def hi(l: Literal): Seq[Expression] = Seq(LessThanOrEqual(first, l))
    def lo(l: Literal): Seq[Expression] = Seq(GreaterThanOrEqual(last, l))
    val checks = splitConjunctivePredicates(cond).flatMap {
      case EqualTo(a: AttributeReference, l: Literal) if isDoc(a) && l.value != null =>
        hi(l) ++ lo(l)
      case EqualTo(l: Literal, a: AttributeReference) if isDoc(a) && l.value != null =>
        hi(l) ++ lo(l)
      case LessThan(a: AttributeReference, l: Literal) if isDoc(a) && l.value != null => hi(l)
      case LessThanOrEqual(a: AttributeReference, l: Literal) if isDoc(a) && l.value != null => hi(l)
      case GreaterThan(a: AttributeReference, l: Literal) if isDoc(a) && l.value != null => lo(l)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) if isDoc(a) && l.value != null => lo(l)
      case LessThan(l: Literal, a: AttributeReference) if isDoc(a) && l.value != null => lo(l)
      case LessThanOrEqual(l: Literal, a: AttributeReference) if isDoc(a) && l.value != null => lo(l)
      case GreaterThan(l: Literal, a: AttributeReference) if isDoc(a) && l.value != null => hi(l)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) if isDoc(a) && l.value != null => hi(l)
      case ArrayContains(a: AttributeReference, l: Literal) if isTok(a) && l.value != null =>
        val v = Literal(l.value.asInstanceOf[Int])
        Seq(LessThanOrEqual(tMin, v), GreaterThanOrEqual(tMax, v),
          graft.functions.BloomMightContain(bloom, crcs, v))
      case In(a: AttributeReference, vs)
          if isDoc(a) && vs.nonEmpty && vs.forall {
            case lit: Literal =>
              lit.value.isInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            case _ => false
          } =>
        val lits = vs.map(_.asInstanceOf[Literal]).sortWith { (x, y) =>
          x.value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            .compareTo(y.value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) < 0
        }
        hi(lits.last) ++ lo(lits.head)
      case StartsWith(a: AttributeReference, l: Literal)
          if isDoc(a) && l.value != null =>
        // matches live in [prefix, nextPrefix) byte-wise
        val p = l.value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
        if (p.isEmpty) Nil
        else {
          var cut = p.length - 1
          while (cut >= 0 && p(cut) == 0xFF.toByte) cut -= 1
          val upper =
            if (cut < 0) Nil
            else {
              val u = java.util.Arrays.copyOf(p, cut + 1)
              u(cut) = (u(cut) + 1).toByte
              Seq(LessThan(first,
                Literal(org.apache.spark.unsafe.types.UTF8String.fromBytes(u),
                  StringType)): Expression)
            }
          lo(l) ++ upper
        }
      case _ => Nil
    }
    if (checks.isEmpty) None else Some(checks.distinct.reduce(And))
  } catch { case scala.util.control.NonFatal(_) => None }
}

case class DecodeGenericChunksExec(output: Seq[Attribute], colIndices: Seq[Int],
                                   colTypes: Seq[String], child: SparkPlan)
    extends UnaryExecNode {
  override def supportsColumnar: Boolean = true
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)

  private def batches(it: Iterator[InternalRow]): Iterator[ColumnarBatch] =
    new GenericChunkBatchIterator(it, child.output.map(_.name), output,
      colIndices.toArray, colTypes.toArray)

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    child.execute().mapPartitions(batches)

  override protected def doExecute(): RDD[InternalRow] = {
    val outAttrs = output
    child.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      batches(it).flatMap(b => b.rowIterator().asScala.map(proj))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DecodeGenericChunksExec =
    copy(child = newChild)
}

object GraftPlans {
  /** Register the strategy + pruning rule on the session (idempotent). */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = org.apache.spark.sql.graftbridge.ColumnBridge.experimental(spark)
    if (!exp.extraStrategies.contains(GraftStrategy))
      exp.extraStrategies = exp.extraStrategies :+ GraftStrategy
    if (!exp.extraOptimizations.contains(DecodeChunksPruning))
      exp.extraOptimizations = exp.extraOptimizations :+ DecodeChunksPruning
    if (!exp.extraOptimizations.contains(DecodeGenericChunksPruning))
      exp.extraOptimizations = exp.extraOptimizations :+ DecodeGenericChunksPruning
    if (!exp.extraOptimizations.contains(GenericChunkFilterPushdown))
      exp.extraOptimizations = exp.extraOptimizations :+ GenericChunkFilterPushdown
    if (!exp.extraOptimizations.contains(TokenChunkFilterPushdown))
      exp.extraOptimizations = exp.extraOptimizations :+ TokenChunkFilterPushdown
  }

  /** Chunk table (any plan with the chunk columns) → token rows, decoding
    * only `cols`. */
  def decodeDF(chunkDF: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.forall(DecodeChunks.TokenCols.contains),
      s"decodable columns are ${DecodeChunks.TokenCols}; got $cols")
    val spark = chunkDF.sparkSession
    install(spark)
    val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
    // the stream projection is a REAL logical Project (not fabricated at
    // planning time) so parquet/cache scans prune to it and AQE keeps a
    // logical counterpart for every physical stage
    val projected = chunkDF.select(
      DecodeChunks.chunkColsFor(cols).map(org.apache.spark.sql.functions.col): _*)
    bridge.ofRows(spark,
      DecodeChunks(cols.map(DecodeChunks.attrFor), bridge.analyzedPlan(projected)))
  }
}

case class DecodeChunksExec(output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def supportsColumnar: Boolean = true

  // Child partitions by chunk-table attributes that don't exist in this
  // node's output, so never advertise them upward. CONSTANT on purpose:
  // deriving numPartitions from the child made the node's partitioning
  // change between AQE replan iterations when the child is a cached
  // query stage, and the adaptive loop never converged (job storm).
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val chunkCols = child.output.map(_.name)
    val outCols = output.map(_.name)
    child.execute().mapPartitions(it => new ChunkBatchIterator(it, chunkCols, outCols))
  }

  /** Row fallback for consumers that call execute() directly: same
    * batches, flattened through a reused UnsafeProjection (Spark's
    * standard producer contract — buffering consumers copy). */
  override protected def doExecute(): RDD[InternalRow] = {
    val chunkCols = child.output.map(_.name)
    val outCols = output.map(_.name)
    val outAttrs = output
    child.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      new ChunkBatchIterator(it, chunkCols, outCols)
        .flatMap(b => b.rowIterator().asScala.map(proj))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DecodeChunksExec =
    copy(child = newChild)
}

/** One ColumnarBatch per GENERIC chunk row: each selected column decodes
  * from its `bin_<i>` payload (per-column CRC verified) straight into a
  * reused OnHeapColumnVector — primitives land as positional puts with
  * null interleaving, strings/binary via the allocation-free sink, array
  * columns as bulk child-vector fills plus offsets. */
private[graft] final class GenericChunkBatchIterator(
    rows: Iterator[InternalRow], chunkCols: Seq[String], output: Seq[Attribute],
    colIndices: Array[Int], colTypes: Array[String])
  extends Iterator[ColumnarBatch] {

  private val idx = chunkCols.zipWithIndex.toMap
  private val iNumRows = idx("num_rows")
  private val iChunkId = idx("chunk_id")
  private val iCrcs = idx("col_crcs")
  private val binOrdinals: Array[Int] = colIndices.map(ci => idx(s"bin_$ci"))
  private val schema = StructType(output.map(a =>
    StructField(a.name, a.dataType, nullable = true)).toArray)
  private var vectors: Array[OnHeapColumnVector] = _

  override def hasNext: Boolean = rows.hasNext

  override def next(): ColumnarBatch = {
    val row = rows.next()
    val n = row.getInt(iNumRows)
    val chunkId = row.getLong(iChunkId)
    val crcs = row.getArray(iCrcs)
    if (vectors == null)
      vectors = OnHeapColumnVector.allocateColumns(math.max(n, 1024), schema)
    else {
      var i = 0
      while (i < vectors.length) { vectors(i).reset(); vectors(i).reserve(n); i += 1 }
    }
    var k = 0
    while (k < colIndices.length) {
      val ci = colIndices(k)
      val bin = row.getBinary(binOrdinals(k))
      val crc = new java.util.zip.CRC32()
      crc.update(bin)
      require(crc.getValue == crcs.getLong(ci),
        s"generic chunk $chunkId: column ${output(k).name} CRC mismatch")
      val (flags, inner) = Chunks.unwrapNullable(bin)
      fill(vectors(k), colTypes(k), flags, inner, n, output(k).dataType)
      k += 1
    }
    new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]], n)
  }

  /** Scatter a dense primitive decode across null flags. */
  private def fill(v: OnHeapColumnVector, tpe: String, flags: Array[Boolean],
                   inner: Array[Byte], n: Int, dt: DataType): Unit = {
    @inline def scatter(put: (Int, Int) => Unit, denseLen: Int): Unit = {
      var r = 0
      var k = 0
      while (r < n) {
        if (flags != null && flags(r)) v.putNull(r)
        else { put(r, k); k += 1 }
        r += 1
      }
      require(k == denseLen, s"dense underflow: $k of $denseLen")
    }
    tpe match {
      case "int" | "date" =>
        val a = Chunks.decodeInts(inner)
        if (flags == null) v.putInts(0, n, a, 0)
        else scatter((r, k) => v.putInt(r, a(k)), a.length)
      case "bigint" | "timestamp" | "timestamp_ntz" =>
        val a = Chunks.decodeLongs(inner)
        if (flags == null) v.putLongs(0, n, a, 0)
        else scatter((r, k) => v.putLong(r, a(k)), a.length)
      case dec if dec.startsWith("decimal(") =>
        val a = Chunks.decodeLongs(inner)
        val useInt = dt.asInstanceOf[DecimalType].precision <=
          org.apache.spark.sql.types.Decimal.MAX_INT_DIGITS
        // unscaled values land directly in the vector's int/long storage —
        // no Decimal object per row (the vectorized-parquet convention)
        if (useInt) scatter((r, k) => v.putInt(r, a(k).toInt), a.length)
        else scatter((r, k) => v.putLong(r, a(k)), a.length)
      case "double" =>
        val a = Chunks.decodeDoubles(inner)
        if (flags == null) v.putDoubles(0, n, a, 0)
        else scatter((r, k) => v.putDouble(r, a(k)), a.length)
      case "float" =>
        val a = Chunks.decodeFloats(inner)
        if (flags == null) v.putFloats(0, n, a, 0)
        else scatter((r, k) => v.putFloat(r, a(k)), a.length)
      case "boolean" =>
        val a = Chunks.decodeBooleans(inner)
        scatter((r, k) => v.putBoolean(r, a(k)), a.length)
      case "string" | "binary" =>
        val sink = new VectorBytesSink(v, flags)
        Chunks.decodeStringsInto(inner, sink)
        sink.finishNulls(n)
      case t if t.startsWith("array<") =>
        val r0 = new ByteReader(inner)
        val lens = Chunks.decodeInts(r0.readBytes(r0.readUvarint().toInt))
        val rest = java.util.Arrays.copyOfRange(r0.buf, r0.pos, r0.buf.length)
        // element stream: dense values, or dense values inside a NULLABLE
        // wrapper whose bitmap spans ALL elements (lens count null
        // elements too — rep/def-level analog)
        val (ef, denseBin) = Chunks.unwrapNullable(rest)
        val data = v.arrayData()
        var totalElems = 0
        locally { var i = 0; while (i < lens.length) { totalElems += lens(i); i += 1 } }
        data.reserve(math.max(1, totalElems))
        @inline def scatterElems(put: (Int, Int) => Unit): Unit = {
          var e = 0
          var k = 0
          while (e < totalElems) {
            if (ef(e)) data.putNull(e) else { put(e, k); k += 1 }
            e += 1
          }
        }
        t match {
          case "array<int>" =>
            if (ef == null) {
              val flat = StreamedTokens.decode(denseBin, lens)
              data.putInts(0, flat.length, flat, 0)
            } else {
              val a = Chunks.decodeInts(denseBin)
              scatterElems((e, k) => data.putInt(e, a(k)))
            }
          case "array<bigint>" =>
            val a = Chunks.decodeLongs(denseBin)
            if (ef == null) data.putLongs(0, a.length, a, 0)
            else scatterElems((e, k) => data.putLong(e, a(k)))
          case "array<float>" =>
            val a = Chunks.decodeFloats(denseBin)
            if (ef == null) data.putFloats(0, a.length, a, 0)
            else scatterElems((e, k) => data.putFloat(e, a(k)))
          case "array<double>" =>
            val a = Chunks.decodeDoubles(denseBin)
            if (ef == null) data.putDoubles(0, a.length, a, 0)
            else scatterElems((e, k) => data.putDouble(e, a(k)))
          case "array<string>" =>
            val sink = new VectorBytesSink(data, ef)
            Chunks.decodeStringsInto(denseBin, sink)
            if (ef != null) sink.finishNulls(totalElems)
          case other => throw new IllegalArgumentException(s"generic decode: $other")
        }
        putArrays(v, flags, lens, n)
      case other => throw new IllegalArgumentException(s"generic decode: $other")
    }
  }

  /** Array offsets from per-row lengths, null rows interleaved. */
  private def putArrays(v: OnHeapColumnVector, flags: Array[Boolean],
                        lens: Array[Int], n: Int): Unit = {
    var r = 0
    var k = 0
    var off = 0
    while (r < n) {
      if (flags != null && flags(r)) v.putNull(r)
      else { v.putArray(r, off, lens(k)); off += lens(k); k += 1 }
      r += 1
    }
  }
}

/** Writes decoded string values straight into a column vector in row
  * order, interleaving nulls per the chunk's null flags (the vector
  * copies each slice, honoring the sink's copy-what-you-keep contract). */
private[plans] final class VectorBytesSink(
    v: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
    nullFlags: Array[Boolean]) extends graft.codec.BytesSink {
  private var r = 0
  override def put(buf: Array[Byte], off: Int, len: Int): Unit = {
    if (nullFlags != null) while (nullFlags(r)) { v.putNull(r); r += 1 }
    v.putByteArray(r, buf, off, len)
    r += 1
  }
  /** Mark any trailing null rows after the last non-null value. */
  def finishNulls(n: Int): Unit =
    while (r < n) {
      require(nullFlags != null && nullFlags(r), s"row $r missing a value")
      v.putNull(r)
      r += 1
    }
}

/** One ColumnarBatch per chunk row. Vectors are allocated once and
  * reset per chunk (the consumer copies what it keeps — the same reuse
  * contract as Spark's vectorized parquet reader). Only the streams the
  * requested columns need are CRC-checked and decoded. */
private[plans] final class ChunkBatchIterator(
    rows: Iterator[InternalRow], chunkCols: Seq[String], outCols: Seq[String])
  extends Iterator[ColumnarBatch] {

  private val idx = chunkCols.zipWithIndex.toMap
  private val iNumRows = idx("num_rows")
  private val iChunkId = idx("chunk_id")
  private val iCrcs = idx("stream_crcs")

  private val needDoc = outCols.contains("doc_id")
  private val needTokens = outCols.contains("tokens")
  private val needNtok = outCols.contains("n_tok")
  private val needSrc = outCols.contains("source")

  private val schema = StructType(outCols.map {
    case "doc_id" => StructField("doc_id", StringType, nullable = false)
    case "tokens" =>
      StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = true)
    case "n_tok" => StructField("n_tok", IntegerType, nullable = false)
    case "source" => StructField("source", StringType, nullable = true)
  }.toArray)
  private var vectors: Array[OnHeapColumnVector] = _

  private def checkCrc(bin: Array[Byte], want: Long, what: String, chunkId: Long): Unit = {
    val c = new java.util.zip.CRC32()
    c.update(bin)
    require(c.getValue == want, s"chunk $chunkId: $what stream CRC mismatch")
  }

  override def hasNext: Boolean = rows.hasNext

  override def next(): ColumnarBatch = {
    val row = rows.next()
    val n = row.getInt(iNumRows)
    val chunkId = row.getLong(iChunkId)
    val crcs = row.getArray(iCrcs).toLongArray()
    if (vectors == null)
      vectors = OnHeapColumnVector.allocateColumns(math.max(n, 1024), schema)
    else {
      var i = 0
      while (i < vectors.length) { vectors(i).reset(); vectors(i).reserve(n); i += 1 }
    }

    var lens: Array[Int] = null
    var tokFlags: Array[Boolean] = null
    var flat: Array[Int] = null
    if (needTokens || needNtok) {
      val lensBin = row.getBinary(idx("lens_bin"))
      checkCrc(lensBin, crcs(1), "lens", chunkId)
      lens = Chunks.decodeInts(BlockCompression.decompress(lensBin))
      val tokensBin = row.getBinary(idx("tokens_bin"))
      checkCrc(tokensBin, crcs(0), "tokens", chunkId)
      if (needTokens) {
        val (f, inner) = Chunks.unwrapNullable(BlockCompression.decompress(tokensBin))
        tokFlags = f
        flat = StreamedTokens.decode(inner, lens)
      } else if (BlockCompression.isFramed(tokensBin) ||
          (tokensBin(0) & 0xFF) == Codecs.NullableWrap) {
        // n_tok without tokens: bitmap peek only, token payload never decoded
        tokFlags = Chunks.nullFlagsOf(BlockCompression.decompress(tokensBin))
      }
    }

    var c = 0
    outCols.foreach { name =>
      val v = vectors(c)
      name match {
        case "doc_id" =>
          val docBin = row.getBinary(idx("docid_bin"))
          checkCrc(docBin, crcs(2), "docid", chunkId)
          // allocation-free: values land in the vector as buffer slices
          val sink = new VectorBytesSink(v, null)
          val decoded = Chunks.decodeStringsInto(BlockCompression.decompress(docBin), sink)
          require(decoded == n, s"chunk $chunkId: $decoded doc_ids for $n rows")
        case "tokens" =>
          val data = v.arrayData()
          data.reserve(flat.length)
          data.putInts(0, flat.length, flat, 0)
          var r = 0
          var k = 0
          var off = 0
          while (r < n) {
            if (tokFlags != null && tokFlags(r)) v.putNull(r)
            else { val len = lens(k); v.putArray(r, off, len); off += len; k += 1 }
            r += 1
          }
        case "n_tok" =>
          var r = 0
          var k = 0
          while (r < n) {
            if (tokFlags != null && tokFlags(r)) v.putInt(r, -1)
            else { v.putInt(r, lens(k)); k += 1 }
            r += 1
          }
        case "source" =>
          val srcBin = row.getBinary(idx("source_bin"))
          checkCrc(srcBin, crcs(3), "source", chunkId)
          val (srcFlags, srcInner) = Chunks.unwrapNullable(BlockCompression.decompress(srcBin))
          val sink = new VectorBytesSink(v, srcFlags)
          Chunks.decodeStringsInto(srcInner, sink)
          sink.finishNulls(n)
      }
      c += 1
    }
    new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]], n)
  }
}
