package graft.plans

import graft.codec.{BlockCompression, ByteReader, Chunks, Codecs, StreamedTokens}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String
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
  * One node, exec and rule set serves both chunk formats; what differs
  * between token and generic tables lives in a [[ChunkLayout]].
  *
  * Projection is pushed down twice:
  *  - `DecodeChunksPruning` (an optimizer rule) shrinks the node's
  *    output to the columns a parent Project actually references;
  *  - the node's child selects only the chunk STREAMS those columns
  *    need, so parquet column pruning skips the untouched payloads
  *    entirely (reference reads pages strictly per requested column,
  *    file.go:439-485).
  */
case class DecodeChunks(output: Seq[Attribute], layout: ChunkLayout, child: LogicalPlan)
    extends UnaryNode {
  // no constructor validation: Catalyst canonicalization rebuilds the node
  // with normalized attribute names; GraftPlans.decodeDF validates instead

  override def nodeName: String = layout.nodeName

  def neededChunkCols: Seq[String] = layout.chunkCols(output)

  override def references: AttributeSet =
    AttributeSet(child.output.filter(a => neededChunkCols.contains(a.name)))

  override def maxRows: Option[Long] = None

  override protected def withNewChildInternal(newChild: LogicalPlan): DecodeChunks =
    copy(child = newChild)
}

/** The format-specific half of the decode operator: which chunk columns a
  * decode reads, how it narrows, which kernel decodes a chunk row, and how
  * a row predicate becomes chunk-stat checks. */
sealed trait ChunkLayout extends Serializable {
  /** The name plans print for the decode node. */
  def nodeName: String

  /** The chunk columns a decode into `output` must fetch. */
  def chunkCols(output: Seq[Attribute]): Seq[String]

  /** This layout for the output narrowed to positions `keep`. */
  def narrow(keep: Seq[Int]): ChunkLayout

  /** One batch per chunk row of `rows` (named `chunkCols`). `ranges`,
    * when not null, maps each chunk_id to the in-chunk rows [from, to) to
    * decode (see [[ChunkBatches]]). */
  private[plans] def batches(rows: Iterator[InternalRow], chunkCols: Seq[String],
                             output: Seq[Attribute],
                             ranges: Map[Long, (Int, Int)]): ChunkBatches

  /** The chunk stats columns filter pushdown reads. */
  def statCols: Seq[String]

  /** Chunk-stat checks implied by `c`, a conjunct over output column `k`
    * (named `name`); `stat` resolves a chunk column. Every check must be
    * an implication of the row predicate: an unhandled shape returns Nil
    * and prunes nothing. */
  def checks(c: Conjunct, k: Int, name: String,
             stat: String => Attribute): Seq[Expression]
}

/** Token chunk tables (`EncodedChunk`): doc_id comparisons become
  * [first_doc_id, last_doc_id] interval checks (the persisted per-chunk
  * key range — lineage doubling as an index), and `array_contains(tokens,
  * t)` becomes the [tokens_min, tokens_max] interval check plus the
  * CRC-verified split-block bloom probe — the exact pruning
  * `EncodePipeline.searchToken` applies by hand. */
case object TokenLayout extends ChunkLayout {
  private val schema = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false)),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType)))
  val TokenCols: Seq[String] = schema.fieldNames.toSeq

  override def nodeName: String = "DecodeChunks"

  /** n_tok needs the tokens stream only for its null bitmap (rows with
    * NULL tokens carry n_tok = -1); the stream's payload DECODE is still
    * skipped. */
  override def chunkCols(output: Seq[Attribute]): Seq[String] = {
    val outCols = output.map(_.name)
    val b = scala.collection.mutable.LinkedHashSet("num_rows", "chunk_id", "stream_crcs")
    if (outCols.contains("doc_id")) b += "docid_bin"
    if (outCols.contains("tokens") || outCols.contains("n_tok")) { b += "lens_bin"; b += "tokens_bin" }
    if (outCols.contains("source")) b += "source_bin"
    b.toSeq
  }

  override def narrow(keep: Seq[Int]): ChunkLayout = this

  override private[plans] def batches(rows: Iterator[InternalRow], chunkCols: Seq[String],
                                      output: Seq[Attribute],
                                      ranges: Map[Long, (Int, Int)]): ChunkBatches =
    new ChunkBatchIterator(rows, chunkCols, output, ranges)

  override val statCols: Seq[String] = Seq("first_doc_id", "last_doc_id",
    "tokens_min", "tokens_max", "tokens_bloom", "stream_crcs")

  override def checks(c: Conjunct, k: Int, name: String,
                      stat: String => Attribute): Seq[Expression] = {
    import Conjunct._
    def hi(l: Literal): Seq[Expression] = Seq(LessThanOrEqual(stat("first_doc_id"), l))
    def lo(l: Literal): Seq[Expression] = Seq(GreaterThanOrEqual(stat("last_doc_id"), l))
    (name, c) match {
      case ("tokens", HasElement(_, l)) => containsToken(stat, l)
      case ("doc_id", Equal(_, l)) => hi(l) ++ lo(l)
      case ("doc_id", AtMost(_, l)) => hi(l)
      case ("doc_id", AtLeast(_, l)) => lo(l)
      case ("doc_id", OneOf(_, lits)) if lits.forall(_.value.isInstanceOf[UTF8String]) =>
        val sorted = ascending(lits)
        hi(sorted.last) ++ lo(sorted.head)
      case ("doc_id", Prefix(_, l, upper)) =>
        lo(l) ++ upper.map(u => LessThan(stat("first_doc_id"), u))
      case _ => Nil
    }
  }

  /** The chunk checks of `array_contains(tokens, t)`: the chunk's
    * [tokens_min, tokens_max] interval holds `t` and its CRC-verified
    * bloom may contain it. `stat` resolves a chunk column; `t` is an int
    * expression (a `Literal`, or `EncodePipeline.searchToken`'s
    * `QueryParam`). */
  def containsToken(stat: String => Expression, t: Expression): Seq[Expression] =
    Seq(LessThanOrEqual(stat("tokens_min"), t), GreaterThanOrEqual(stat("tokens_max"), t),
      graft.functions.BloomMightContain(stat("tokens_bloom"), stat("stream_crcs"), t))

  def attrFor(name: String): AttributeReference = {
    val f = schema(name)
    AttributeReference(f.name, f.dataType, f.nullable)()
  }
}

/** GENERIC (any-schema) chunk tables: `colIndices`/`colTypes` are parallel
  * to the node's output — each output attribute decodes the chunk column
  * at its index. The child is the projected chunk metadata (num_rows,
  * chunk_id, col_crcs) plus one `bin_<i>` payload column per decoded
  * engine column, so projection saves parquet bytes as well as decode CPU
  * and CRC work. Filters become per-column min/max interval checks, an
  * all-null-chunk check, and a split-block bloom probe for equalities;
  * `array_contains` over an int/bigint array checks its element bounds
  * (the reference's column-index + bloom search, column_index.go:259-272,
  * bloom.go:16-70). */
final case class GenericLayout(colIndices: Seq[Int], colTypes: Seq[String])
    extends ChunkLayout {
  override def nodeName: String = "DecodeGenericChunks"

  override def chunkCols(output: Seq[Attribute]): Seq[String] =
    Seq("num_rows", "chunk_id", "col_crcs") ++ colIndices.map(ci => s"bin_$ci")

  override def narrow(keep: Seq[Int]): ChunkLayout =
    GenericLayout(keep.map(colIndices), keep.map(colTypes))

  override private[plans] def batches(rows: Iterator[InternalRow], chunkCols: Seq[String],
                                      output: Seq[Attribute],
                                      ranges: Map[Long, (Int, Int)]): ChunkBatches =
    new GenericChunkBatchIterator(rows, chunkCols, output, ranges,
      colIndices.toArray, colTypes.toArray)

  override def statCols: Seq[String] =
    Seq("col_mins", "col_maxs", "col_nulls", "col_blooms", "num_rows")

  override def checks(c: Conjunct, k: Int, name: String,
                      stat: String => Attribute): Seq[Expression] = {
    import Conjunct._
    val tpe = colTypes(k)
    def item(n: String): Expression = GetArrayItem(stat(n), Literal(colIndices(k)))
    // a chunk whose every row is null for the column can satisfy no
    // comparison predicate
    val notAllNull = LessThan(item("col_nulls"), stat("num_rows"))
    // hi: the chunk's min is at most l; lo: its max is at least l
    def bound(l: Literal, isLo: Boolean): Seq[Expression] =
      statValue(tpe, l, isLo).map { case (sl, ct) =>
        val st = item(if (isLo) "col_maxs" else "col_mins")
        val sv = if (ct == StringType) st else Cast(st, ct)
        Seq(Or(IsNull(st), if (isLo) GreaterThanOrEqual(sv, sl) else LessThanOrEqual(sv, sl)),
          notAllNull)
      }.getOrElse(Nil)
    def hi(l: Literal): Seq[Expression] = bound(l, isLo = false)
    def lo(l: Literal): Seq[Expression] = bound(l, isLo = true)
    def bloom(l: Literal): Option[Expression] =
      bloomHash(tpe, l).map(h => graft.functions.BloomProbe(item("col_blooms"), Literal(h)))
    c match {
      // array stats are ELEMENT bounds (the array builders' statMin/statMax):
      // only element membership maps onto them
      case HasElement(_, l) => hi(l) ++ lo(l)
      case _ if tpe.startsWith("array<") => Nil
      case Equal(_, l) => hi(l) ++ lo(l) ++ bloom(l)
      case AtMost(_, l) => hi(l)
      case AtLeast(_, l) => lo(l)
      // Spark's NaN = NaN is TRUE, but a NaN match lies outside any
      // [min(list), max(list)] interval (the stats exclude NaN too) —
      // an IN list containing NaN must not prune at all
      case OneOf(_, lits) if !lits.exists(l => l.value match {
            case d: java.lang.Double => d.isNaN
            case f: java.lang.Float => f.isNaN
            case _ => false
          }) =>
        // the chunk must intersect [min(list), max(list)] AND (when every
        // value hashes) pass at least one bloom probe
        val sorted = ascending(lits)
        val probes = lits.map(bloom)
        hi(sorted.last) ++ lo(sorted.head) ++
          (if (probes.forall(_.nonEmpty)) Seq(probes.flatten.reduce(Or)) else Nil)
      case Prefix(_, l, upper) if tpe == "string" =>
        Seq(Or(IsNull(item("col_maxs")), GreaterThanOrEqual(item("col_maxs"), l)),
          notAllNull) ++
          upper.map(u => Or(IsNull(item("col_mins")), LessThan(item("col_mins"), u)))
      case _ => Nil
    }
  }

  /** Literal → its value in the stat representation + the type the
    * stat string casts to for the comparison. Decimals round
    * CONSERVATIVELY by bound direction (the interval only widens). */
  private def statValue(tpe: String, lit: Literal, isLo: Boolean): Option[(Literal, DataType)] =
    tpe match {
      case "int" | "date" | "array<int>" =>
        Some((Literal(lit.value.asInstanceOf[Int].toLong), LongType))
      case "bigint" | "timestamp" | "timestamp_ntz" | "array<bigint>" =>
        Some((Literal(lit.value.asInstanceOf[Long]), LongType))
      case t if t.startsWith("decimal(") =>
        val scale = t.stripPrefix("decimal(").stripSuffix(")").split(",")(1).trim.toInt
        lit.value match {
          case d: Decimal =>
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

  /** The bloom hash of `l` for a column of type `tpe`; None for types
    * without blooms (empty/absent blooms keep the chunk anyway). */
  private def bloomHash(tpe: String, l: Literal): Option[Int] = tpe match {
    case "int" | "date" => Some(l.value.asInstanceOf[Int])
    case "bigint" | "timestamp" | "timestamp_ntz" =>
      Some(graft.codec.Bloom.foldLong(l.value.asInstanceOf[Long]))
    case "string" =>
      Some(graft.codec.Bloom.fnv1a(l.value.asInstanceOf[UTF8String].getBytes))
    case _ => None
  }
}

/** One conjunct of a row filter over a decode, in attribute-first form
  * (`lit op attr` is flipped to `attr op' lit`; every literal is
  * non-null): `=`, `<`/`<=` (AtMost), `>`/`>=` (AtLeast), IN (in list
  * order), startsWith of a non-empty prefix (matches live in
  * [prefix, upper) byte-wise; no upper bound when every prefix byte is
  * 0xFF) and array_contains (HasElement). */
sealed trait Conjunct { def attr: AttributeReference }

object Conjunct {
  final case class Equal(attr: AttributeReference, lit: Literal) extends Conjunct
  final case class AtMost(attr: AttributeReference, lit: Literal) extends Conjunct
  final case class AtLeast(attr: AttributeReference, lit: Literal) extends Conjunct
  final case class OneOf(attr: AttributeReference, lits: Seq[Literal]) extends Conjunct
  final case class Prefix(attr: AttributeReference, prefix: Literal,
                          upper: Option[Literal]) extends Conjunct
  final case class HasElement(attr: AttributeReference, lit: Literal) extends Conjunct

  /** A non-null literal. */
  private object Value {
    def unapply(e: Expression): Option[Literal] =
      Some(e).collect { case l: Literal if l.value != null => l }
  }

  def of(e: Expression): Option[Conjunct] = e match {
    case EqualTo(a: AttributeReference, Value(l)) => Some(Equal(a, l))
    case EqualTo(Value(l), a: AttributeReference) => Some(Equal(a, l))
    case LessThan(a: AttributeReference, Value(l)) => Some(AtMost(a, l))
    case LessThanOrEqual(a: AttributeReference, Value(l)) => Some(AtMost(a, l))
    case GreaterThan(a: AttributeReference, Value(l)) => Some(AtLeast(a, l))
    case GreaterThanOrEqual(a: AttributeReference, Value(l)) => Some(AtLeast(a, l))
    case LessThan(Value(l), a: AttributeReference) => Some(AtLeast(a, l))
    case LessThanOrEqual(Value(l), a: AttributeReference) => Some(AtLeast(a, l))
    case GreaterThan(Value(l), a: AttributeReference) => Some(AtMost(a, l))
    case GreaterThanOrEqual(Value(l), a: AttributeReference) => Some(AtMost(a, l))
    case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(Value.unapply(_).nonEmpty) =>
      Some(OneOf(a, vs.map(_.asInstanceOf[Literal])))
    case StartsWith(a: AttributeReference, Value(l)) =>
      // the least string above every match: drop trailing 0xFF bytes, then
      // increment the last byte left
      val p = l.value.asInstanceOf[UTF8String].getBytes
      val cut = p.lastIndexWhere(_ != 0xFF.toByte)
      val upper = Option.when(cut >= 0)(Literal(UTF8String.fromBytes(
        p.take(cut + 1).updated(cut, (p(cut) + 1).toByte)), StringType))
      Option.when(p.nonEmpty)(Prefix(a, l, upper))
    case ArrayContains(a: AttributeReference, Value(l)) => Some(HasElement(a, l))
    case _ => None
  }

  /** `lits` in ascending order; throws on an unorderable list. */
  def ascending(lits: Seq[Literal]): Seq[Literal] = lits.sortWith { (a, b) =>
    (a.value, b.value) match {
      // exact integral compares first: doubleValue() loses precision
      // past 2^53 and a mis-picked extreme would prune unsoundly
      case (x: java.lang.Long, y: java.lang.Long) => x < y
      case (x: java.lang.Integer, y: java.lang.Integer) => x < y
      case (x: java.lang.Number, y: java.lang.Number) =>
        x.doubleValue() < y.doubleValue()
      case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
      case (x: Decimal, y: Decimal) => x.compareTo(y) < 0
      case _ => throw new IllegalArgumentException("unorderable IN list")
    }
  }
}

/** Prune decode output to what a parent Project references — Catalyst's
  * ColumnPruning already pushes a minimal Project under aggregates and
  * joins, so `decodeDF(t).agg(sum("n_tok"))` automatically skips the
  * doc_id/source/token-payload decode without the caller asking. The
  * node's child Project (built by GraftPlans.decode) is re-narrowed in
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
      val kept = dc.output.indices.filter(k => keep.contains(dc.output(k).exprId))
      val pruned = kept.map(dc.output)
      val layout = dc.layout.narrow(kept)
      val needed = layout.chunkCols(pruned)
      val newChild = dc.child match {
        // re-narrow the projection this plan was built with. ALL needed
        // columns must exist — silently dropping a missing one would
        // surface later inside the batch iterator; keep the child instead
        case Project(_, src) if needed.forall(n => src.output.exists(_.name == n)) =>
          Project(needed.map(n => src.output.find(_.name == n).get), src)
        case other => other
      }
      p.copy(child = DecodeChunks(pruned, layout, newChild))
  }
}

/** Automatic chunk-level predicate pushdown: a row-level Filter over
  * DecodeChunks grows a CHUNK-metadata filter directly on the source
  * relation (BELOW the node's stream projection, so the stats/bloom
  * columns are scanned only when a filter exists), built conjunct by
  * conjunct by the node's layout. Chunks that provably contain no
  * matching row are never fetched, CRC'd, or decoded. The original row
  * Filter stays on top for exactness; every chunk check is an
  * implication of the row predicate, so an unhandled shape simply prunes
  * nothing. Users write `readTable(...).filter(...)` — no manual prune
  * call — the declarative analog of the reference's search
  * (search.go:31-101). */
object ChunkFilterPushdown extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, dc: DecodeChunks) =>
      dc.child match {
        // src still unfiltered (idempotence across fixpoint iterations)
        // and carrying the chunk stats columns
        case Project(projList, src)
            if !src.isInstanceOf[Filter] &&
              dc.layout.statCols.forall(n => src.output.exists(_.name == n)) =>
          chunkCond(cond, dc.output, dc.layout, n => src.output.find(_.name == n).get)
            .map(cc => f.copy(child = dc.copy(child = Project(projList, Filter(cc, src)))))
            .getOrElse(f)
        case _ => f
      }
  }

  /** The chunk filter implied by the row predicate `cond` over a decode
    * into `output` through `layout`; `stat` resolves a chunk column. None
    * when no conjunct yields a check. The rule and
    * `GenericEncode.prune` both build their chunk filters here. */
  def chunkCond(cond: Expression, output: Seq[Attribute], layout: ChunkLayout,
                stat: String => Attribute): Option[Expression] = try {
    val checks = splitConjunctivePredicates(cond).flatMap(Conjunct.of).flatMap { c =>
      val k = output.indexWhere(_.exprId == c.attr.exprId)
      if (k < 0) Nil else layout.checks(c, k, output(k).name, stat)
    }
    if (checks.isEmpty) None else Some(checks.distinct.reduce(And))
  } catch { case scala.util.control.NonFatal(_) => None }
}

/** Plans DecodeChunks 1:1 onto DecodeChunksExec. Deliberately NO
  * synthetic logical nodes here: an earlier version fabricated a fresh
  * Project inside the strategy, which left AQE's physical stages without
  * a counterpart in its logical plan — every replan iteration then
  * re-materialized the (cached) chunk-scan stage and the adaptive loop
  * never converged. The projection lives in the REAL logical plan
  * instead (GraftPlans.decode / DecodeChunksPruning). */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case dc: DecodeChunks =>
      dc.neededChunkCols.foreach { n =>
        require(dc.child.output.exists(_.name == n),
          s"chunk table has no column '$n'")
      }
      DecodeChunksExec(dc.output, dc.layout, planLater(dc.child)) :: Nil
    case _ => Nil
  }
}

case class DecodeChunksExec(output: Seq[Attribute], layout: ChunkLayout, child: SparkPlan)
    extends UnaryExecNode {

  override def nodeName: String = layout.nodeName

  override def supportsColumnar: Boolean = true

  // Child partitions by chunk-table attributes that don't exist in this
  // node's output, so never advertise them upward. CONSTANT on purpose:
  // deriving numPartitions from the child made the node's partitioning
  // change between AQE replan iterations when the child is a cached
  // query stage, and the adaptive loop never converged (job storm).
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val l = layout
    val chunkCols = child.output.map(_.name)
    val out = output
    child.execute().mapPartitions(l.batches(_, chunkCols, out, null))
  }

  /** Row fallback for consumers that call execute() directly: same
    * batches, flattened through a reused UnsafeProjection (Spark's
    * standard producer contract — buffering consumers copy). */
  override protected def doExecute(): RDD[InternalRow] = {
    val out = output
    doExecuteColumnar().mapPartitions { batches =>
      val proj = UnsafeProjection.create(out, out)
      batches.flatMap(b => b.rowIterator().asScala.map(proj))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DecodeChunksExec =
    copy(child = newChild)
}

object GraftPlans {
  /** Register the strategy + pruning and pushdown rules on the session
    * (idempotent). */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = org.apache.spark.sql.graftbridge.ColumnBridge.experimental(spark)
    if (!exp.extraStrategies.contains(GraftStrategy))
      exp.extraStrategies = exp.extraStrategies :+ GraftStrategy
    exp.extraOptimizations = exp.extraOptimizations ++
      Seq(DecodeChunksPruning, ChunkFilterPushdown).filterNot(exp.extraOptimizations.contains)
  }

  /** Chunk table (any plan with the chunk columns) → token rows, decoding
    * only `cols`. */
  def decodeDF(chunkDF: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.forall(TokenLayout.TokenCols.contains),
      s"decodable columns are ${TokenLayout.TokenCols}; got $cols")
    decode(chunkDF, cols.map(TokenLayout.attrFor), TokenLayout)
  }

  /** Chunk table → `output` rows through `layout`. The stream projection
    * is a REAL logical Project (not fabricated at planning time) so
    * parquet/cache scans prune to it and AQE keeps a logical counterpart
    * for every physical stage. */
  private[graft] def decode(chunkDF: DataFrame, output: Seq[Attribute],
                            layout: ChunkLayout): DataFrame = {
    val spark = chunkDF.sparkSession
    install(spark)
    val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
    val projected = chunkDF.select(
      layout.chunkCols(output).map(org.apache.spark.sql.functions.col): _*)
    bridge.ofRows(spark, DecodeChunks(output, layout, bridge.analyzedPlan(projected)))
  }

  /** The rows of the chunk frame `chunks`, decoded into `output` through
    * `layout`'s batch kernel, each followed by the chunk-level columns
    * `carry` of its chunk. `ranges` maps each chunk_id to the in-chunk
    * rows [from, to) to decode (a seek); without it every row decodes.
    * Only the chunk columns the decode needs, plus `carry`, are read. */
  private[graft] def chunkRows(chunks: DataFrame, output: Seq[Attribute], layout: ChunkLayout,
                               carry: Seq[String] = Nil,
                               ranges: Option[Map[Long, (Int, Int)]] = None): DataFrame = {
    val frame = chunks.select(
      (layout.chunkCols(output) ++ carry).distinct.map(org.apache.spark.sql.functions.col): _*)
    val names = frame.columns.toSeq
    val carried = carry.map(frame.schema(_))
    val ords = carried.map(f => (names.indexOf(f.name), f.dataType))
    val r = ranges.orNull
    val rows = frame.queryExecution.toRdd.mapPartitions(decodeRows(_, names, output, layout, ords, r))
    val schema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)) ++
      carried)
    org.apache.spark.sql.graftbridge.ColumnBridge.internalCreateDataFrame(
      chunks.sparkSession, rows, schema)
  }

  /** [[chunkRows]] over one partition's chunk rows `rows` (named `names`):
    * `carry` holds the (ordinal, type) of each carried chunk column. The
    * rows are one reused UnsafeRow, valid until the next one is read, as
    * a scan's are. */
  private[graft] def decodeRows(rows: Iterator[InternalRow], names: Seq[String],
                                output: Seq[Attribute], layout: ChunkLayout,
                                carry: Seq[(Int, DataType)] = Nil,
                                ranges: Map[Long, (Int, Int)] = null): Iterator[InternalRow] = {
    // the kernel pulls exactly one chunk row per batch, so the row seen
    // last is the current batch's chunk
    var chunk: InternalRow = null
    val kernel = layout.batches(rows.map { r => chunk = r; r }, names, output, ranges)
    // batch rows leave as UnsafeRows: an RDD scan over the batch rows
    // themselves made compaction's decode stage several times slower
    val proj = UnsafeProjection.create((output.map(_.dataType) ++ carry.map(_._2)).zipWithIndex
      .map { case (t, i) => BoundReference(i, t, true) })
    val carryProj = UnsafeProjection.create(carry.map { case (i, t) => BoundReference(i, t, true) })
    val joined = new JoinedRow
    kernel.flatMap { batch =>
      val chunkCols = carryProj(chunk).copy()
      batch.rowIterator().asScala.drop(kernel.skip).map(r => proj(joined(r, chunkCols)))
    }
  }
}

/** One ColumnarBatch per chunk row of `rows` (named `chunkCols`), with
  * one vector per `output` attribute. Vectors are allocated once and
  * reset per chunk (the consumer copies what it keeps — the same reuse
  * contract as Spark's vectorized parquet reader). `crcCol` names the
  * chunk's stream/column CRC array.
  *
  * `ranges`, when not null, maps every chunk_id to the in-chunk rows
  * [from, to) wanted: the batch then holds the chunk's first `to` rows,
  * and the rows before [[skip]] (= `from`) are not part of the range. */
private[plans] abstract class ChunkBatches(
    rows: Iterator[InternalRow], chunkCols: Seq[String], output: Seq[Attribute],
    crcCol: String, ranges: Map[Long, (Int, Int)]) extends Iterator[ColumnarBatch] {

  protected val idx: Map[String, Int] = chunkCols.zipWithIndex.toMap
  private val iNumRows = idx("num_rows")
  private val iChunkId = idx("chunk_id")
  private val iCrcs = idx(crcCol)
  private val schema = StructType(output.map(a =>
    StructField(a.name, a.dataType, a.nullable)).toArray)
  private var vectors: Array[OnHeapColumnVector] = _

  /** The leading rows of the last batch that lie outside its chunk's range. */
  var skip: Int = 0

  /** Decode at least rows [from, to) of chunk `chunkId` (`row`, `n` rows)
    * into `vectors`, each at its own row number. */
  protected def decode(row: InternalRow, n: Int, from: Int, to: Int, chunkId: Long,
                       crcs: ArrayData, vectors: Array[OnHeapColumnVector]): Unit

  protected def checkCrc(bin: Array[Byte], want: Long, mismatch: => String): Unit = {
    val c = new java.util.zip.CRC32()
    c.update(bin)
    require(c.getValue == want, mismatch)
  }

  /** Array offsets of rows [from, n) from per-row lengths starting at
    * `lens(k0)`, null rows interleaved; rows before `from` are null. */
  protected def putArrays(v: OnHeapColumnVector, flags: Array[Boolean],
                          lens: Array[Int], n: Int, from: Int = 0, k0: Int = 0): Unit = {
    var r = 0
    while (r < from) { v.putNull(r); r += 1 }
    var k = k0
    var off = 0
    while (r < n) {
      if (flags != null && flags(r)) v.putNull(r)
      else { v.putArray(r, off, lens(k)); off += lens(k); k += 1 }
      r += 1
    }
  }

  override def hasNext: Boolean = rows.hasNext

  override def next(): ColumnarBatch = {
    val row = rows.next()
    val n = row.getInt(iNumRows)
    if (vectors == null)
      vectors = OnHeapColumnVector.allocateColumns(math.max(n, 1024), schema)
    else {
      var i = 0
      while (i < vectors.length) { vectors(i).reset(); vectors(i).reserve(n); i += 1 }
    }
    val chunkId = row.getLong(iChunkId)
    val (from, to) = if (ranges == null) (0, n) else ranges(chunkId)
    require(from >= 0 && from <= to && to <= n, s"chunk $chunkId: rows [$from,$to) of $n")
    decode(row, n, from, to, chunkId, row.getArray(iCrcs), vectors)
    skip = from
    new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]], to)
  }
}

/** GENERIC chunk rows: each selected column decodes from its `bin_<i>`
  * payload (per-column CRC verified) straight into a reused
  * OnHeapColumnVector — primitives land as positional puts with null
  * interleaving, strings/binary via the allocation-free sink, array
  * columns as bulk child-vector fills plus offsets. */
private[plans] final class GenericChunkBatchIterator(
    rows: Iterator[InternalRow], chunkCols: Seq[String], output: Seq[Attribute],
    ranges: Map[Long, (Int, Int)], colIndices: Array[Int], colTypes: Array[String])
  extends ChunkBatches(rows, chunkCols, output, "col_crcs", ranges) {

  private val binOrdinals: Array[Int] = colIndices.map(ci => idx(s"bin_$ci"))

  /** Generic columns carry no intra-chunk page index: a range decodes
    * the whole chunk. */
  override protected def decode(row: InternalRow, n: Int, from: Int, to: Int, chunkId: Long,
                                crcs: ArrayData, vectors: Array[OnHeapColumnVector]): Unit = {
    var k = 0
    while (k < colIndices.length) {
      val bin = row.getBinary(binOrdinals(k))
      checkCrc(bin, crcs.getLong(colIndices(k)),
        s"generic chunk $chunkId: column ${output(k).name} CRC mismatch")
      val (flags, inner) = Chunks.unwrapNullable(bin)
      fill(vectors(k), colTypes(k), flags, inner, n, output(k).dataType)
      k += 1
    }
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

/** TOKEN chunk rows. Only the streams the requested columns need are
  * CRC-checked and decoded. A range decodes only the token pages that
  * cover its rows (`StreamedTokens.decodeRows` skips the rest by bytes,
  * the reference's SeekToRow, file.go:684-709); the row-level streams
  * (lens, doc_id, source — a few % of chunk bytes) decode whole. */
private[plans] final class ChunkBatchIterator(
    rows: Iterator[InternalRow], chunkCols: Seq[String], output: Seq[Attribute],
    ranges: Map[Long, (Int, Int)])
  extends ChunkBatches(rows, chunkCols, output, "stream_crcs", ranges) {

  private val outCols = output.map(_.name)
  private val needTokens = outCols.contains("tokens")
  private val needNtok = outCols.contains("n_tok")

  override protected def decode(row: InternalRow, n: Int, from: Int, to: Int, chunkId: Long,
                                crcData: ArrayData, vectors: Array[OnHeapColumnVector]): Unit = {
    val crcs = crcData.toLongArray()
    var lens: Array[Int] = null
    var tokFlags: Array[Boolean] = null
    var flat: Array[Int] = null
    var firstLen = 0 // the lens index of row `from`
    if (needTokens || needNtok) {
      val lensBin = row.getBinary(idx("lens_bin"))
      checkCrc(lensBin, crcs(1), s"chunk $chunkId: lens stream CRC mismatch")
      lens = Chunks.decodeInts(BlockCompression.decompress(lensBin))
      val tokensBin = row.getBinary(idx("tokens_bin"))
      checkCrc(tokensBin, crcs(0), s"chunk $chunkId: tokens stream CRC mismatch")
      if (needTokens) {
        val (f, inner) = Chunks.unwrapNullable(BlockCompression.decompress(tokensBin))
        tokFlags = f
        if (from == 0 && to == n) flat = StreamedTokens.decode(inner, lens)
        else {
          // rows [from, to) are the non-null token rows [firstLen, end)
          var r = 0
          while (r < from) { if (f == null || !f(r)) firstLen += 1; r += 1 }
          var end = firstLen
          while (r < to) { if (f == null || !f(r)) end += 1; r += 1 }
          flat = StreamedTokens.decodeRows(inner, lens, firstLen, end)._1
        }
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
          checkCrc(docBin, crcs(2), s"chunk $chunkId: docid stream CRC mismatch")
          // allocation-free: values land in the vector as buffer slices
          val sink = new VectorBytesSink(v, null)
          val decoded = Chunks.decodeStringsInto(BlockCompression.decompress(docBin), sink)
          require(decoded == n, s"chunk $chunkId: $decoded doc_ids for $n rows")
        case "tokens" =>
          val data = v.arrayData()
          data.reserve(flat.length)
          data.putInts(0, flat.length, flat, 0)
          putArrays(v, tokFlags, lens, to, from, firstLen)
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
          checkCrc(srcBin, crcs(3), s"chunk $chunkId: source stream CRC mismatch")
          val (srcFlags, srcInner) = Chunks.unwrapNullable(BlockCompression.decompress(srcBin))
          val sink = new VectorBytesSink(v, srcFlags)
          Chunks.decodeStringsInto(srcInner, sink)
          sink.finishNulls(n)
      }
      c += 1
    }
  }
}
