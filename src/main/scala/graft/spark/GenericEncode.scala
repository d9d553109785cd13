package graft.spark

import graft.codec._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col => fcol, lit => flit}
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets.UTF_8

/** One encoded chunk of an ARBITRARY flat schema: per-column codec
  * payloads side by side, schema recorded in the chunk row. The engine
  * analog of the reference's GenericWriter/GenericReader over any Go
  * struct (column_buffer_go18.go:241-287, convert.go:49-345) — here the
  * Catalyst schema replaces Go reflection, and every column reuses the
  * same auto-selecting codec kernels as the token pipeline.
  *
  * Every column also carries what the reference's ColumnIndex carries
  * per page (column_index.go:259-272): min/max bounds (string-rendered;
  * null when the type is untracked or the value is unrepresentable), a
  * split-block bloom for int/long/string columns (empty when absent),
  * and a per-column CRC so a projected decode fails loudly on corruption
  * without touching the columns it skipped.
  */
final case class GenericChunk(
    part_id: Int,
    chunk_id: Long,
    num_rows: Int,
    col_names: Seq[String],
    col_types: Seq[String],
    col_codecs: Seq[String],
    col_nulls: Seq[Int],
    col_mins: Seq[String],
    col_maxs: Seq[String],
    col_blooms: Seq[Array[Byte]],
    enc_bytes: Long,
    crc32: Long,
    col_crcs: Seq[Long],
    cols_bin: Seq[Array[Byte]])

/** Encode/decode ANY flat DataFrame whose columns are int / long /
  * double / float / string / boolean / binary / date / timestamp /
  * decimal(<=18) / array<int|bigint|float|double|string> — with full
  * element-null support (rep/def-level analog) — plus nested structs and
  * maps via flattening, to a chunk table and back. Layout follows the
  * input partitioning (use repartition/sort upstream for range layouts);
  * each partition cuts chunks at a row budget.
  */
object GenericEncode {

  final val DefaultRowsPerChunk: Int = 64 * 1024

  private val ArrayElemTypes: Set[DataType] =
    Set(IntegerType, LongType, FloatType, DoubleType, StringType)

  private val Supported: Set[DataType] =
    Set(IntegerType, LongType, DoubleType, FloatType, StringType, BooleanType,
      BinaryType, DateType, TimestampType, TimestampNTZType) ++
      ArrayElemTypes.flatMap(t => Seq(
        ArrayType(t, containsNull = false), ArrayType(t, containsNull = true)))

  /** Decimals up to 18 digits ride the long codec as unscaled values
    * (reference logical-type analog: FIXED/INT64 decimal, type.go:20-31). */
  private def isSupported(dt: DataType): Boolean = dt match {
    case d: DecimalType => d.precision <= 18
    case t => Supported.contains(t)
  }

  /** Leaf separator for flattened struct columns. '.' would collide with
    * user column names too easily; '' cannot appear in a sane name. */
  private final val Sep = ""
  private final val DefinedSuffix = Sep + "defined"

  /** Struct columns are handled by schema-tree flattening around the flat
    * engine (the Spark-native replacement for the reference's rep/def
    * shredding of nested schemas, node.go:149-177): each struct leaf
    * becomes a column named parentleaf, a nullable struct gains a
    * boolean presence leaf, and `decode` rebuilds the nesting from the
    * names. Arbitrary depth via recursion.
    *
    * Map leaf names carry a LEADING Sep, so a user struct whose fields
    * happen to be named "mkeys"/"mvals" can never be mistaken for an
    * encoded map on decode — user column names are rejected if they
    * contain Sep, so the double-Sep pattern is unforgeable. */
  private final val MapKeysLeaf = Sep + "mkeys"
  private final val MapValsLeaf = Sep + "mvals"

  /** Repeated-group (array<struct>) leaves: the element struct shreds
    * into PARALLEL leaf arrays — `arr<struct<a,b>>` becomes `arrelema`
    * and `arrelemb`, one array<atomic> per leaf (struct-of-arrays, the
    * columnar answer to parquet's repeated groups: every leaf keeps its
    * own ideal codec and projection prunes unread element fields at the
    * byte level). Element/inner-struct presence rides 0/1 int arrays
    * (`arredef`, `...defined`) — the rep/def-level analog, same
    * double-Sep unforgeability as map leaves (reference shreds repeated
    * groups via rep/def levels, node.go:149-177, column_buffer.go:421-454). */
  private final val ArrElemTag = Sep + "elem"
  private final val ArrElemDef = Sep + "edef"

  private def validateNames(t: StructType, nested: Boolean = false): Unit =
    t.fields.foreach { f =>
      require(f.name.nonEmpty && !f.name.contains(Sep),
        s"generic encode: illegal column name '${f.name}' (empty or contains \\u0001)")
      // 'defined' inside a struct would be indistinguishable from the
      // flattened presence leaf (prefix + Sep + "defined") and silently
      // decode as a null-mask — reject loudly. Top-level columns named
      // 'defined' are fine (no Sep prefix, never ambiguous).
      require(!(nested && f.name == "defined"),
        "generic encode: struct field name 'defined' is reserved " +
          "(collides with the flattened presence leaf)")
      f.dataType match {
        case st: StructType => validateNames(st, nested = true)
        case ArrayType(st: StructType, _) => validateNames(st, nested = true)
        case _ =>
      }
    }

  private def flatten(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit, map_keys, map_values, transform, when}
    def mapLeaves(prefix: String, path: String, nullable: Boolean): Seq[org.apache.spark.sql.Column] = {
      val presence =
        if (nullable) Seq(c(path).isNotNull.as(prefix + DefinedSuffix)) else Seq.empty
      presence ++ Seq(
        map_keys(c(path)).as(prefix + Sep + MapKeysLeaf),
        map_values(c(path)).as(prefix + Sep + MapValsLeaf))
    }
    // array<struct>: parallel leaf arrays + 0/1 presence arrays
    def arrElemLeaves(prefix: String, path: String, elem: StructType,
                      containsNull: Boolean): Seq[org.apache.spark.sql.Column] = {
      def sub(x: org.apache.spark.sql.Column, rel: Seq[String]) =
        rel.foldLeft(x)(_.getField(_))
      val presence =
        if (containsNull)
          Seq(transform(c(path), x => when(x.isNotNull, lit(1)).otherwise(lit(0)))
            .as(prefix + Sep + ArrElemDef))
        else Seq.empty
      def leaves(p2: String, rel: Seq[String], t: StructType): Seq[org.apache.spark.sql.Column] =
        t.fields.toSeq.flatMap { f =>
          f.dataType match {
            case st: StructType =>
              val inner =
                if (f.nullable)
                  Seq(transform(c(path),
                    x => when(sub(x, rel :+ f.name).isNotNull, lit(1)).otherwise(lit(0)))
                    .as(p2 + Sep + f.name + DefinedSuffix))
                else Seq.empty
              inner ++ leaves(p2 + Sep + f.name, rel :+ f.name, st)
            case other =>
              require(ArrayElemTypes.contains(other),
                s"generic encode: array<struct> leaf '${f.name}' has unsupported " +
                  s"type $other (supported: ${ArrayElemTypes.mkString(", ")})")
              Seq(transform(c(path), x => sub(x, rel :+ f.name))
                .as(p2 + Sep + f.name))
          }
        }
      presence ++ leaves(prefix + Sep + ArrElemTag, Nil, elem)
    }
    def expand(prefix: String, path: String, t: StructType, nullable: Boolean): Seq[org.apache.spark.sql.Column] = {
      val presence =
        if (nullable) Seq(c(path).isNotNull.as(prefix + DefinedSuffix)) else Seq.empty
      presence ++ t.fields.flatMap { f =>
        f.dataType match {
          case st: StructType =>
            expand(prefix + Sep + f.name, s"$path.`${f.name}`", st, f.nullable)
          case _: MapType =>
            mapLeaves(prefix + Sep + f.name, s"$path.`${f.name}`", f.nullable)
          case ArrayType(st: StructType, cn) =>
            arrElemLeaves(prefix + Sep + f.name, s"$path.`${f.name}`", st, cn)
          case _ =>
            Seq(c(s"$path.`${f.name}`").as(prefix + Sep + f.name))
        }
      }
    }
    val cols = df.schema.fields.flatMap { f =>
      f.dataType match {
        case st: StructType => expand(f.name, s"`${f.name}`", st, f.nullable)
        case _: MapType => mapLeaves(f.name, s"`${f.name}`", f.nullable)
        case ArrayType(st: StructType, cn) =>
          arrElemLeaves(f.name, s"`${f.name}`", st, cn)
        case _ => Seq(c(s"`${f.name}`"))
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Rebuild nested structs, maps, and array<struct> columns from
    * flattened leaf names. */
  private def unflatten(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, struct, when, map_from_arrays,
      arrays_zip, transform, zip_with, lit}
    val colPos: String => Int = n => df.columns.indexOf(n)
    // array<struct> rebuild: zip the parallel leaf arrays back together,
    // reshape each zipped element into the original struct tree, null out
    // elements/inner structs whose 0/1 presence arrays say "absent"
    def rebuildArrStruct(prefix: String, names: Seq[String]): org.apache.spark.sql.Column = {
      val defName = prefix + Sep + ArrElemDef
      val elemPrefix = prefix + Sep + ArrElemTag
      val leaves = names.filter(_.startsWith(elemPrefix + Sep)).sortBy(colPos)
      val leafIdx = leaves.zipWithIndex.toMap
      val zipped = arrays_zip(
        leaves.zipWithIndex.map { case (n, i) => c("`" + n + "`").as("z" + i) }: _*)
      def reshape(z: org.apache.spark.sql.Column, sub: Seq[String],
                  p2: String): org.apache.spark.sql.Column = {
        val hasDef = sub.contains(p2 + DefinedSuffix)
        val kids = sub.filter(_ != p2 + DefinedSuffix)
        val byChild = kids.groupBy(_.stripPrefix(p2 + Sep).split(Sep, 2)(0))
        val fields = byChild.toSeq
          .sortBy { case (_, xs) => xs.map(colPos).min }
          .map { case (child, xs) =>
            if (xs == Seq(p2 + Sep + child))
              z.getField("z" + leafIdx(p2 + Sep + child)).as(child)
            else reshape(z, xs, p2 + Sep + child).as(child)
          }
        val node = struct(fields: _*)
        if (hasDef) when(z.getField("z" + leafIdx(p2 + DefinedSuffix)) === lit(1), node)
        else node
      }
      if (names.contains(defName))
        zip_with(c("`" + defName + "`"), zipped,
          (d, z) => when(d === lit(1), reshape(z, leaves, elemPrefix)))
      else transform(zipped, z => reshape(z, leaves, elemPrefix))
    }
    // group top-level: names without Sep stay; names with Sep nest
    def build(names: Seq[String], prefix: String): org.apache.spark.sql.Column = {
      val defined = names.contains(prefix + DefinedSuffix)
      val children = names.filter(n => n != prefix + DefinedSuffix)
      val byChild = children.groupBy(_.stripPrefix(prefix + Sep).split(Sep, 2)(0))
      val node =
        // the "" group key arises ONLY from the leading-Sep map and
        // array<struct> leaves (user names can't contain Sep)
        if (byChild.keySet == Set("")) {
          if (children.contains(prefix + Sep + MapKeysLeaf))
            map_from_arrays(
              c("`" + prefix + Sep + MapKeysLeaf + "`"),
              c("`" + prefix + Sep + MapValsLeaf + "`"))
          else rebuildArrStruct(prefix, children)
        } else {
          val fields = byChild.toSeq
            .sortBy { case (_, ns) => ns.map(colPos).min }
            .map { case (child, ns) =>
              if (ns == Seq(prefix + Sep + child))
                c("`" + prefix + Sep + child + "`").as(child)
              else build(ns, prefix + Sep + child).as(child)
            }
          struct(fields: _*)
        }
      if (defined) when(c("`" + prefix + DefinedSuffix + "`"), node) else node
    }
    val tops = df.columns.map(_.split(Sep, 2)(0)).distinct
    val cols = tops.map { top =>
      val ns = df.columns.filter(n => n == top || n.startsWith(top + Sep)).toSeq
      if (ns == Seq(top)) c("`" + top + "`")
      else build(ns, top).as(top)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  private def needsFlatten(dt: DataType): Boolean = dt match {
    case _: StructType | _: MapType => true
    case ArrayType(_: StructType, _) => true
    case _ => false
  }

  /** Number of FLATTENED engine columns `encode` will produce for this
    * frame — computable from the schema alone, so sinks need no
    * first-row probe of the encoded dataset (see [[encodeWrite]]). */
  private def flatWidth(df0: DataFrame): Int =
    if (df0.schema.fields.exists(f => needsFlatten(f.dataType)))
      flatten(df0).schema.fields.length
    else df0.schema.fields.length

  def encode(df0: DataFrame, rowsPerChunk: Int = DefaultRowsPerChunk): Dataset[GenericChunk] = {
    validateNames(df0.schema)
    val df =
      if (df0.schema.fields.exists(f => needsFlatten(f.dataType))) flatten(df0)
      else df0
    val spark = df.sparkSession
    import spark.implicits._
    val schema = df.schema
    schema.fields.foreach { f =>
      require(isSupported(f.dataType),
        s"generic encode: unsupported column type ${f.dataType} (${f.name})")
    }
    val names = schema.fields.map(_.name).toSeq
    val types = schema.fields.map(_.dataType.simpleString).toSeq
    val rdd = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, iter) =>
      new GenericPartitionEncoder(pid, schema, names, types, rowsPerChunk, iter)
    }
    spark.createDataset(rdd)
  }

  // ------------------------------------------------------------- builders

  private final class IntBuf(init: Int = 1024) {
    var a = new Array[Int](init); var n = 0
    def +=(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def clear(): Unit = n = 0
  }
  private final class LongBuf(init: Int = 1024) {
    var a = new Array[Long](init); var n = 0
    def +=(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def clear(): Unit = n = 0
  }
  private final class DoubleBuf(init: Int = 1024) {
    var a = new Array[Double](init); var n = 0
    def +=(v: Double): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def clear(): Unit = n = 0
  }
  private final class FloatBuf(init: Int = 1024) {
    var a = new Array[Float](init); var n = 0
    def +=(v: Float): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def clear(): Unit = n = 0
  }

  /** (inner payload, min, max, bloom) — min/max null when untracked,
    * bloom empty when the type carries none. */
  private final case class ColResult(inner: Array[Byte], min: String, max: String,
                                     bloom: Array[Byte])
  private val NoBloom = Array.emptyByteArray

  /** Typed per-column buffer: primitive growable arrays, no boxing
    * (rounds 1-2 buffered ArrayBuffer[Any] — one box per value). Null
    * handling is shared: `nullFlags` is per ROW; `add` is called only
    * for non-null values. */
  private sealed abstract class ColBuilder {
    val nullFlags = new scala.collection.mutable.ArrayBuffer[Boolean](1024)
    var nulls = 0
    final def addNull(): Unit = { nullFlags += true; nulls += 1 }
    final def addRow(row: InternalRow, c: Int): Unit =
      if (row.isNullAt(c)) addNull()
      else { nullFlags += false; add(row, c) }
    def add(row: InternalRow, c: Int): Unit
    def finish(): ColResult
    final def clear(): Unit = { nullFlags.clear(); nulls = 0; clearValues() }
    def clearValues(): Unit
  }

  private def bloomOf(insertAll: Array[Int] => Unit, n: Int): Array[Byte] = {
    // distinct-oriented sizing: a column is ~one distinct value per row
    val words = new Array[Int](Bloom.sizeBytesForDistinct(n) / 4)
    insertAll(words)
    Bloom.serialize(words)
  }

  private final class IntColBuilder extends ColBuilder {
    private val buf = new IntBuf
    override def add(row: InternalRow, c: Int): Unit = buf += row.getInt(c)
    override def finish(): ColResult = {
      var mn = Int.MaxValue; var mx = Int.MinValue
      var i = 0
      while (i < buf.n) { val v = buf.a(i); if (v < mn) mn = v; if (v > mx) mx = v; i += 1 }
      val bloom = bloomOf(w => { var j = 0; while (j < buf.n) { Bloom.insert(w, buf.a(j)); j += 1 } }, buf.n)
      ColResult(Chunks.encodeInts(buf.a, 0, buf.n),
        if (buf.n == 0) null else mn.toString,
        if (buf.n == 0) null else mx.toString, bloom)
    }
    override def clearValues(): Unit = buf.clear()
  }

  /** long / timestamp(±NTZ) micros / decimal unscaled. */
  private final class LongColBuilder(dec: Option[DecimalType]) extends ColBuilder {
    private val buf = new LongBuf
    override def add(row: InternalRow, c: Int): Unit = buf += (dec match {
      case Some(d) => row.getDecimal(c, d.precision, d.scale).toUnscaledLong
      case None => row.getLong(c)
    })
    override def finish(): ColResult = {
      var mn = Long.MaxValue; var mx = Long.MinValue
      var i = 0
      while (i < buf.n) { val v = buf.a(i); if (v < mn) mn = v; if (v > mx) mx = v; i += 1 }
      val bloom = bloomOf(w => {
        var j = 0; while (j < buf.n) { Bloom.insert(w, Bloom.foldLong(buf.a(j))); j += 1 }
      }, buf.n)
      ColResult(Chunks.encodeLongs(buf.a, 0, buf.n),
        if (buf.n == 0) null else mn.toString,
        if (buf.n == 0) null else mx.toString, bloom)
    }
    override def clearValues(): Unit = buf.clear()
  }

  /** Floating-point stats follow the parquet-writer convention for NaN:
    * min/max track only non-NaN values, and a chunk that SAW a NaN gets
    * a null (untracked) max — under Spark's ordering NaN sorts greater
    * than every value, so the true upper bound of such a chunk is not
    * representable and a finite stat would let `col > L` pruning drop
    * NaN rows the row filter keeps. The min is unaffected (NaN is never
    * the minimum); all-NaN chunks track neither bound. */
  private final class DoubleColBuilder extends ColBuilder {
    private val buf = new DoubleBuf
    override def add(row: InternalRow, c: Int): Unit = buf += row.getDouble(c)
    override def finish(): ColResult = {
      var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
      var hasNaN = false; var nonNaN = 0
      var i = 0
      while (i < buf.n) {
        val v = buf.a(i)
        if (v != v) hasNaN = true
        else { nonNaN += 1; if (v < mn) mn = v; if (v > mx) mx = v }
        i += 1
      }
      ColResult(Chunks.encodeDoubles(buf.a, 0, buf.n),
        if (nonNaN == 0) null else mn.toString,
        if (nonNaN == 0 || hasNaN) null else mx.toString, NoBloom)
    }
    override def clearValues(): Unit = buf.clear()
  }

  private final class FloatColBuilder extends ColBuilder {
    private val buf = new FloatBuf
    override def add(row: InternalRow, c: Int): Unit = buf += row.getFloat(c)
    override def finish(): ColResult = {
      var mn = Float.PositiveInfinity; var mx = Float.NegativeInfinity
      var hasNaN = false; var nonNaN = 0
      var i = 0
      while (i < buf.n) {
        val v = buf.a(i)
        if (v != v) hasNaN = true
        else { nonNaN += 1; if (v < mn) mn = v; if (v > mx) mx = v }
        i += 1
      }
      ColResult(Chunks.encodeFloats(buf.a, 0, buf.n),
        if (nonNaN == 0) null else mn.toString,
        if (nonNaN == 0 || hasNaN) null else mx.toString, NoBloom)
    }
    override def clearValues(): Unit = buf.clear()
  }

  private final class BoolColBuilder extends ColBuilder {
    private val buf = new scala.collection.mutable.ArrayBuffer[Boolean](1024)
    override def add(row: InternalRow, c: Int): Unit = buf += row.getBoolean(c)
    override def finish(): ColResult =
      ColResult(Chunks.encodeBooleans(buf.toArray, 0, buf.length), null, null, NoBloom)
    override def clearValues(): Unit = buf.clear()
  }

  /** Longest prefix of `b` with length <= limit that ends on a UTF-8
    * character boundary: back off while the first EXCLUDED byte is a
    * continuation byte (0b10xxxxxx), which also drops the partial lead
    * byte. A naive byte-truncate (rounds 2-3) could split a multibyte
    * char; the partial tail then decoded to U+FFFD (EF BF BD), which
    * sorts ABOVE real 2/3-byte lead bytes — an UNSOUND lower bound that
    * let pruneRange skip chunks containing matching rows. */
  private[graft] def utf8BoundaryPrefix(b: Array[Byte], limit: Int): Array[Byte] = {
    if (b.length <= limit) return b
    var cut = limit
    while (cut > 0 && (b(cut) & 0xC0) == 0x80) cut -= 1
    java.util.Arrays.copyOf(b, cut)
  }

  /** Strict well-formedness check: stats render through String, and only
    * valid UTF-8 survives that round-trip byte-identically — an invalid
    * byte would be replaced by U+FFFD and corrupt the stored bound, so
    * invalid values leave the bound untracked (null = never prune). */
  private[graft] def isValidUtf8(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) {
      val c = b(i) & 0xFF
      val len =
        if (c < 0x80) 1
        else if (c >= 0xC2 && c <= 0xDF) 2
        else if (c >= 0xE0 && c <= 0xEF) 3
        else if (c >= 0xF0 && c <= 0xF4) 4
        else return false
      if (i + len > b.length) return false
      // continuation bytes, with the standard tightened ranges that
      // reject overlongs and surrogates/out-of-range
      var k = 1
      while (k < len) {
        val cc = b(i + k) & 0xFF
        val ok = (cc & 0xC0) == 0x80 &&
          (k != 1 || ((c != 0xE0 || cc >= 0xA0) && (c != 0xED || cc < 0xA0) &&
            (c != 0xF0 || cc >= 0x90) && (c != 0xF4 || cc < 0x90)))
        if (!ok) return false
        k += 1
      }
      i += len
    }
    true
  }

  /** string (tracked: bounded min/max + bloom) or opaque binary. */
  private final class BytesColBuilder(isString: Boolean) extends ColBuilder {
    private val buf = new scala.collection.mutable.ArrayBuffer[Array[Byte]](1024)
    override def add(row: InternalRow, c: Int): Unit =
      buf += (if (isString) row.getUTF8String(c).getBytes else row.getBinary(c))
    override def finish(): ColResult = {
      val arr = buf.toArray
      var min: String = null
      var max: String = null
      var bloom = NoBloom
      if (isString && arr.nonEmpty) {
        val ord = java.util.Arrays.compare(_: Array[Byte], _: Array[Byte])
        var mn = arr(0); var mx = arr(0)
        var i = 1
        while (i < arr.length) {
          if (ord(arr(i), mn) < 0) mn = arr(i)
          if (ord(arr(i), mx) > 0) mx = arr(i)
          i += 1
        }
        // a truncated min stays a valid lower bound ONLY when the cut
        // lands on a character boundary and the bytes are well-formed
        // UTF-8 (String rendering replaces anything else with U+FFFD,
        // which does not sort like the original bytes); a truncated MAX
        // never rounds up safely, so an over-long max is untracked
        val mnCut = utf8BoundaryPrefix(mn, 64)
        min = if (isValidUtf8(mnCut)) new String(mnCut, UTF_8) else null
        max = if (mx.length <= 64 && isValidUtf8(mx)) new String(mx, UTF_8) else null
        bloom = bloomOf(w => {
          var j = 0; while (j < arr.length) { Bloom.insert(w, Bloom.fnv1a(arr(j))); j += 1 }
        }, arr.length)
      }
      ColResult(Chunks.encodeStrings(arr, 0, arr.length), min, max, bloom)
    }
    override def clearValues(): Unit = buf.clear()
  }

  /** Array columns share one payload layout: [uvarint lens-len][lens
    * chunk][element stream], where `lens` counts ALL elements per row
    * (null elements included — parquet's repetition levels) and the
    * element stream is either the dense values directly or, when any
    * element is null, the dense values inside a NULLABLE wrapper whose
    * bitmap spans all elements (parquet's definition levels;
    * reference column_buffer.go:421-454). The two cases discriminate on
    * the stream's leading codec tag, so pre-round-5 tables (never
    * null-wrapped) decode unchanged. */
  private sealed abstract class ArrayColBuilder extends ColBuilder {
    protected val lens = new IntBuf
    protected val elemFlags = new scala.collection.mutable.ArrayBuffer[Boolean](4096)
    protected var elemNulls = 0
    final protected def addElemNull(): Unit = { elemFlags += true; elemNulls += 1 }
    final protected def addElemVal(): Unit = elemFlags += false
    /** Dense (non-null) element payload; `StreamedTokens` for int arrays
      * only when null-free (its row-family scatter keys off `lens`). */
    protected def denseBytes(): Array[Byte]
    protected def statMin(): String = null
    protected def statMax(): String = null
    final override def finish(): ColResult = {
      val lensBin = Chunks.encodeInts(lens.a, 0, lens.n)
      val inner =
        if (elemNulls == 0) denseBytes()
        else Chunks.wrapNullable(elemFlags.toArray, elemFlags.length, elemNulls, denseBytes())
      val w = new ByteWriter(16 + lensBin.length + inner.length)
      w.writeUvarint(lensBin.length)
      w.writeBytes(lensBin)
      w.writeBytes(inner)
      ColResult(w.toArray, statMin(), statMax(), NoBloom)
    }
    final override def clearValues(): Unit = {
      lens.clear(); elemFlags.clear(); elemNulls = 0; clearElems()
    }
    protected def clearElems(): Unit
  }

  private final class IntArrayColBuilder(containsNull: Boolean) extends ArrayColBuilder {
    private val flat = new IntBuf(4096)
    override def add(row: InternalRow, c: Int): Unit = {
      val ad = row.getArray(c)
      val n = ad.numElements()
      lens += n
      if (!containsNull) {
        // bulk copy; flags stay all-false
        val a = ad.toIntArray()
        var i = 0
        while (i < n) { addElemVal(); flat += a(i); i += 1 }
      } else {
        var i = 0
        while (i < n) {
          if (ad.isNullAt(i)) addElemNull()
          else { addElemVal(); flat += ad.getInt(i) }
          i += 1
        }
      }
    }
    override protected def denseBytes(): Array[Byte] =
      if (elemNulls == 0)
        StreamedTokens.encode(flat.a, java.util.Arrays.copyOf(lens.a, lens.n),
          lens.n, flat.n)._1
      else Chunks.encodeInts(flat.a, 0, flat.n)
    // element-level bounds: range-prune "does any row contain token t"
    override protected def statMin(): String = {
      var mn = Int.MaxValue
      var i = 0
      while (i < flat.n) { if (flat.a(i) < mn) mn = flat.a(i); i += 1 }
      if (flat.n == 0) null else mn.toString
    }
    override protected def statMax(): String = {
      var mx = Int.MinValue
      var i = 0
      while (i < flat.n) { if (flat.a(i) > mx) mx = flat.a(i); i += 1 }
      if (flat.n == 0) null else mx.toString
    }
    override protected def clearElems(): Unit = flat.clear()
  }

  private final class LongArrayColBuilder(containsNull: Boolean) extends ArrayColBuilder {
    private val flat = new LongBuf(4096)
    override def add(row: InternalRow, c: Int): Unit = {
      val ad = row.getArray(c)
      val n = ad.numElements()
      lens += n
      if (!containsNull) {
        val a = ad.toLongArray()
        var i = 0
        while (i < n) { addElemVal(); flat += a(i); i += 1 }
      } else {
        var i = 0
        while (i < n) {
          if (ad.isNullAt(i)) addElemNull()
          else { addElemVal(); flat += ad.getLong(i) }
          i += 1
        }
      }
    }
    override protected def denseBytes(): Array[Byte] = Chunks.encodeLongs(flat.a, 0, flat.n)
    override protected def statMin(): String = {
      var mn = Long.MaxValue
      var i = 0
      while (i < flat.n) { if (flat.a(i) < mn) mn = flat.a(i); i += 1 }
      if (flat.n == 0) null else mn.toString
    }
    override protected def statMax(): String = {
      var mx = Long.MinValue
      var i = 0
      while (i < flat.n) { if (flat.a(i) > mx) mx = flat.a(i); i += 1 }
      if (flat.n == 0) null else mx.toString
    }
    override protected def clearElems(): Unit = flat.clear()
  }

  private final class FloatArrayColBuilder(containsNull: Boolean) extends ArrayColBuilder {
    private val flat = new FloatBuf(4096)
    override def add(row: InternalRow, c: Int): Unit = {
      val ad = row.getArray(c)
      val n = ad.numElements()
      lens += n
      if (!containsNull) {
        val a = ad.toFloatArray()
        var i = 0
        while (i < n) { addElemVal(); flat += a(i); i += 1 }
      } else {
        var i = 0
        while (i < n) {
          if (ad.isNullAt(i)) addElemNull()
          else { addElemVal(); flat += ad.getFloat(i) }
          i += 1
        }
      }
    }
    override protected def denseBytes(): Array[Byte] = Chunks.encodeFloats(flat.a, 0, flat.n)
    override protected def clearElems(): Unit = flat.clear()
  }

  private final class DoubleArrayColBuilder(containsNull: Boolean) extends ArrayColBuilder {
    private val flat = new DoubleBuf(4096)
    override def add(row: InternalRow, c: Int): Unit = {
      val ad = row.getArray(c)
      val n = ad.numElements()
      lens += n
      if (!containsNull) {
        val a = ad.toDoubleArray()
        var i = 0
        while (i < n) { addElemVal(); flat += a(i); i += 1 }
      } else {
        var i = 0
        while (i < n) {
          if (ad.isNullAt(i)) addElemNull()
          else { addElemVal(); flat += ad.getDouble(i) }
          i += 1
        }
      }
    }
    override protected def denseBytes(): Array[Byte] = Chunks.encodeDoubles(flat.a, 0, flat.n)
    override protected def clearElems(): Unit = flat.clear()
  }

  private final class StringArrayColBuilder extends ArrayColBuilder {
    private val flat = new scala.collection.mutable.ArrayBuffer[Array[Byte]](1024)
    override def add(row: InternalRow, c: Int): Unit = {
      val ad = row.getArray(c)
      val n = ad.numElements()
      lens += n
      var k = 0
      while (k < n) {
        if (ad.isNullAt(k)) addElemNull()
        else { addElemVal(); flat += ad.getUTF8String(k).getBytes }
        k += 1
      }
    }
    override protected def denseBytes(): Array[Byte] =
      Chunks.encodeStrings(flat.toArray, 0, flat.length)
    override protected def clearElems(): Unit = flat.clear()
  }

  private def builderFor(f: StructField): ColBuilder = f.dataType match {
    case IntegerType | DateType => new IntColBuilder
    case LongType | TimestampType | TimestampNTZType => new LongColBuilder(None)
    case d: DecimalType => new LongColBuilder(Some(d))
    case DoubleType => new DoubleColBuilder
    case FloatType => new FloatColBuilder
    case BooleanType => new BoolColBuilder
    case StringType => new BytesColBuilder(isString = true)
    case BinaryType => new BytesColBuilder(isString = false)
    case ArrayType(IntegerType, cn) => new IntArrayColBuilder(cn)
    case ArrayType(LongType, cn) => new LongArrayColBuilder(cn)
    case ArrayType(FloatType, cn) => new FloatArrayColBuilder(cn)
    case ArrayType(DoubleType, cn) => new DoubleArrayColBuilder(cn)
    case ArrayType(StringType, _) => new StringArrayColBuilder
    case other => throw new IllegalArgumentException(s"generic encode: $other")
  }

  /** Per-partition chunk cutter: typed primitive column builders (reused
    * across chunks), flushes every `rowsPerChunk` rows. */
  private final class GenericPartitionEncoder(
      pid: Int, schema: StructType, names: Seq[String], types: Seq[String],
      rowsPerChunk: Int, iter: Iterator[InternalRow]) extends Iterator[GenericChunk] {
    private val fields = schema.fields
    private val builders = fields.map(builderFor)
    private var chunkSeq = 0L
    private var done = false
    private var pending: GenericChunk = _

    override def hasNext: Boolean = {
      if (pending == null && !done) pending = readChunk()
      pending != null
    }
    override def next(): GenericChunk = {
      if (!hasNext) throw new NoSuchElementException
      val c = pending
      pending = null
      c
    }

    private def readChunk(): GenericChunk = {
      if (!iter.hasNext) { done = true; return null }
      val n = fields.length
      builders.foreach(_.clear())
      var rows = 0
      while (iter.hasNext && rows < rowsPerChunk) {
        val row = iter.next()
        var c = 0
        while (c < n) { builders(c).addRow(row, c); c += 1 }
        rows += 1
      }
      if (!iter.hasNext) done = true
      val bins = new Array[Array[Byte]](n)
      val codecs = new Array[String](n)
      val nulls = new Array[Int](n)
      val mins = new Array[String](n)
      val maxs = new Array[String](n)
      val blooms = new Array[Array[Byte]](n)
      val colCrcs = new Array[Long](n)
      var c = 0
      while (c < n) {
        val b = builders(c)
        val res = b.finish()
        nulls(c) = b.nulls
        mins(c) = res.min
        maxs(c) = res.max
        blooms(c) = res.bloom
        bins(c) =
          if (b.nulls == 0) res.inner
          else Chunks.wrapNullable(b.nullFlags.toArray, rows, b.nulls, res.inner)
        codecs(c) = Chunks.codecName(bins(c))
        val crc = new java.util.zip.CRC32()
        crc.update(bins(c))
        colCrcs(c) = crc.getValue
        c += 1
      }
      val crc = new java.util.zip.CRC32()
      bins.foreach(crc.update)
      blooms.foreach(crc.update)
      val chunk = GenericChunk(
        part_id = pid,
        chunk_id = (pid.toLong << 32) | chunkSeq,
        num_rows = rows,
        col_names = names,
        col_types = types,
        col_codecs = codecs.toSeq,
        col_nulls = nulls.toSeq,
        col_mins = mins.toSeq,
        col_maxs = maxs.toSeq,
        col_blooms = blooms.toSeq,
        // stats + blooms counted: enc_bytes is ALL bytes a reader needs
        enc_bytes = bins.map(_.length.toLong).sum + blooms.map(_.length.toLong).sum,
        crc32 = crc.getValue,
        col_crcs = colCrcs.toSeq,
        cols_bin = bins.toSeq)
      chunkSeq += 1
      chunk
    }
  }

  // --------------------------------------------------------------- pruning

  /** One (col_names, col_types) metadata row from the chunk table. A
    * stats-pruned scan legitimately selects ZERO chunks — that is the
    * point of pruning — but the table schema still lives on the unpruned
    * parent rows, so an empty dataset strips its pruning Filters and
    * probes the parent. None only for a genuinely schema-less table. */
  private def metaHead(chunks: Dataset[GenericChunk]): Option[(Seq[String], Seq[String])] = {
    val h = chunks.limit(1).collect()
    if (h.nonEmpty) Some((h(0).col_names, h(0).col_types))
    else {
      val unfiltered = chunks.queryExecution.analyzed.transformUp {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.child
      }
      org.apache.spark.sql.graftbridge.ColumnBridge
        .ofRows(chunks.sparkSession, unfiltered)
        .select("col_names", "col_types").limit(1).collect().headOption
        .map(r => (r.getSeq[String](0), r.getSeq[String](1)))
    }
  }

  /** Position of a (flattened) column in this chunk table's recorded
    * schema — one metadata row, not a data read. */
  def colIndexOf(chunks: Dataset[GenericChunk], colName: String): Int = {
    val names = metaHead(chunks)
      .getOrElse(sys.error("empty chunk table"))._1
    val i = names.indexOf(colName)
    require(i >= 0, s"no column '$colName' in $names")
    i
  }

  /** Accepted natural bound spellings, converted to the internal stat
    * representation driver-side (rounds 2-3 compared everything as
    * double, so a "2026-01-01" timestamp bound or a "123.45" decimal
    * bound silently mis-pruned, and bigints past 2^53 lost precision). */
  private def dateDays(s: String): Long = {
    val t = s.trim
    if (t.matches("[+-]?\\d+")) t.toLong else java.time.LocalDate.parse(t).toEpochDay
  }
  private def tsMicros(s: String): Long = {
    val t = s.trim
    if (t.matches("[+-]?\\d+")) t.toLong
    else {
      val ldt =
        if (t.contains(" ") || t.contains("T"))
          java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        else java.time.LocalDate.parse(t).atStartOfDay()
      val inst = ldt.toInstant(java.time.ZoneOffset.UTC)
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
    }
  }
  /** Decimal bound → unscaled long at the column's scale. Excess caller
    * precision rounds CONSERVATIVELY (lo up, hi down): the filter
    * interval only ever widens relative to representable values, so
    * pruning still skips only provably disjoint chunks. */
  private def decimalUnscaled(s: String, scale: Int, isLo: Boolean): Long =
    new java.math.BigDecimal(s.trim)
      .setScale(scale,
        if (isLo) java.math.RoundingMode.CEILING else java.math.RoundingMode.FLOOR)
      .unscaledValue().longValueExact()

  /** Chunks whose [min,max] interval for `colName` may intersect
    * [lo, hi] (inclusive, both optional). Bounds are NATURAL literals
    * per type — int/bigint: integer; double/float: decimal number;
    * date: ISO "2026-01-01" (or raw epoch-day integer); timestamp:
    * ISO "2026-01-01[ T]HH:MM:SS[.ffffff]" interpreted as UTC (or raw
    * epoch-micros integer); decimal: plain decimal number; string:
    * compared lexicographically. Integer-backed types compare as LONGS
    * (no 2^53 double precision loss). Chunks with untracked bounds are
    * kept — pruning may only ever skip PROVABLY disjoint chunks
    * (reference column_index.go:259-272 + search.go:31-101). */
  def pruneRange(chunks: Dataset[GenericChunk], colName: String,
                 lo: Option[String], hi: Option[String]): Dataset[GenericChunk] = {
    val (names, types) = metaHead(chunks).getOrElse(sys.error("empty chunk table"))
    val i = names.indexOf(colName)
    require(i >= 0, s"no column '$colName' in $names")
    val tpe = types(i)
    val mn0 = fcol("col_mins").getItem(i)
    val mx0 = fcol("col_maxs").getItem(i)
    // (bound, isLo) → value in the stat's own representation
    val longConv: Option[(String, Boolean) => Long] = tpe match {
      // integer-array stats are ELEMENT bounds — integers, so they must
      // compare numerically too (the string fallback would prune "9" vs
      // "10" lexicographically, which is unsound)
      case "int" | "bigint" | "array<int>" | "array<bigint>" =>
        Some((s, _) => s.trim.toLong)
      case "date" => Some((s, _) => dateDays(s))
      case "timestamp" | "timestamp_ntz" => Some((s, _) => tsMicros(s))
      case t if t.startsWith("decimal(") =>
        val scale = t.stripPrefix("decimal(").stripSuffix(")").split(",")(1).trim.toInt
        Some((s, isLo) => decimalUnscaled(s, scale, isLo))
      case _ => None
    }
    var cond = flit(true)
    longConv match {
      case Some(conv) =>
        val mn = mn0.cast("bigint")
        val mx = mx0.cast("bigint")
        hi.foreach(h => cond = cond && (mn.isNull || mn <= flit(conv(h, false))))
        lo.foreach(l => cond = cond && (mx.isNull || mx >= flit(conv(l, true))))
      case None if tpe == "double" =>
        val mn = mn0.cast("double")
        val mx = mx0.cast("double")
        hi.foreach(h => cond = cond && (mn.isNull || mn <= flit(h.trim.toDouble)))
        lo.foreach(l => cond = cond && (mx.isNull || mx >= flit(l.trim.toDouble)))
      case None if tpe == "float" =>
        // float space on BOTH sides (stat strings round-trip via
        // Float.parseFloat; widening only one side to double mis-prunes
        // bounds like 0.7 — see plans.GenericLayout)
        val mn = mn0.cast("float")
        val mx = mx0.cast("float")
        hi.foreach(h => cond = cond && (mn.isNull || mn <= flit(h.trim.toFloat)))
        lo.foreach(l => cond = cond && (mx.isNull || mx >= flit(l.trim.toFloat)))
      case None =>
        hi.foreach(h => cond = cond && (mn0.isNull || mn0 <= flit(h)))
        lo.foreach(l => cond = cond && (mx0.isNull || mx0 >= flit(l)))
    }
    chunks.filter(cond)
  }

  /** Chunks whose bloom for `colName` may contain the value (pre-hashed:
    * ints directly, longs via Bloom.foldLong, strings via Bloom.fnv1a of
    * their UTF-8 bytes). Absent blooms keep the chunk. */
  def pruneBloom(chunks: Dataset[GenericChunk], colName: String, hash: Int): Dataset[GenericChunk] = {
    val i = colIndexOf(chunks, colName)
    chunks.filter(org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.BloomProbe(
        org.apache.spark.sql.catalyst.expressions.GetArrayItem(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("col_blooms"),
          org.apache.spark.sql.catalyst.expressions.Literal(i)),
        org.apache.spark.sql.catalyst.expressions.Literal(hash))))
  }

  /** Row-offset seek over a generic chunk table (schema-generic SeekToRow,
    * reference file.go:684-709): covering chunks come from the same
    * distributed row index the token pipeline uses, each covering chunk
    * decodes only the requested columns through the same columnar batch
    * kernel as [[decode]], and rows [from, to) are copied out of the
    * batch. Generic columns carry no intra-chunk page index, so
    * partial-ness is chunk-granular (the token table additionally
    * byte-skips pages). */
  def seekRows(spark: SparkSession, chunks: Dataset[GenericChunk], start: Long, count: Long,
               cols: Seq[String] = Seq.empty): DataFrame = {
    val meta = metaHead(chunks)
    if (meta.isEmpty) return spark.emptyDataFrame
    val ranges = EncodePipeline.coveringRanges(
      EncodePipeline.rowIndexOf(chunks.toDF()), start, count)
    val bc = spark.sparkContext.broadcast(ranges)
    val (allNames, allTypes) = meta.get
    val (attrs, layout) = decodeLayout(allNames, allTypes, cols)
    val payload = binFrame(chunks, allNames.length)
      .filter(EncodePipeline.coveringChunks(ranges))
      .select(layout.chunkCols(attrs).map(fcol): _*)
    val payloadNames = payload.columns.toSeq
    val iChunkId = payloadNames.indexOf("chunk_id")
    val rowRdd = payload.queryExecution.toRdd.mapPartitions { it =>
      import scala.jdk.CollectionConverters._
      // the batch iterator pulls exactly one chunk row per batch, so the
      // id seen last is the current batch's chunk
      var chunkId = 0L
      val tagged = it.map { r => chunkId = r.getLong(iChunkId); r }
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(attrs, attrs)
      layout.batches(tagged, payloadNames, attrs)
        .flatMap { batch =>
          val (from, to) = bc.value(chunkId)
          batch.rowIterator().asScala.slice(from, to).map(r => proj(r).copy(): InternalRow)
        }
    }
    val schema = StructType(attrs.map(a => StructField(a.name, a.dataType, nullable = true)))
    val flat = org.apache.spark.sql.graftbridge.ColumnBridge
      .internalCreateDataFrame(spark, rowRdd, schema)
    if (schema.fieldNames.exists(_.contains(Sep))) unflatten(flat) else flat
  }

  // ------------------------------------------------- columnar table layout

  private val ChunkMetaCols = Seq(
    "part_id", "chunk_id", "num_rows", "col_names", "col_types", "col_codecs",
    "col_nulls", "col_mins", "col_maxs", "col_blooms", "enc_bytes", "crc32",
    "col_crcs")

  /** The one generic chunk layout: the chunk metadata plus ONE PARQUET
    * COLUMN PER ENGINE COLUMN (`bin_<i>`). Persisted, a projected read
    * skips the unselected columns' BYTES at the parquet layer — the
    * per-column I/O pruning the reference gets from its page layout
    * (file.go:439-485); in memory, `cols_bin[i] AS bin_i` is the same
    * frame, so every decode reads one shape. */
  private def binFrame(chunks: Dataset[GenericChunk], n: Int): DataFrame =
    chunks.toDF().select(ChunkMetaCols.map(fcol) ++
      (0 until n).map(i => fcol("cols_bin").getItem(i).as(s"bin_$i")): _*)

  /** Persist `chunks` (of `n` engine columns) in the `bin_<i>` layout.
    * The width is the caller's: [[encodeWrite]] derives it from the
    * source schema, so the encode DAG runs once. */
  private[graft] def writeColumnarN(chunks: Dataset[GenericChunk], path: String,
                                    n: Int): Unit =
    binFrame(chunks, n).write.mode("overwrite")
      .option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(path)

  /** Encode `df` and persist it in the `bin_<i>` layout in ONE pipeline
    * execution: the width comes from the SOURCE schema ([[flatWidth]]),
    * so no probe row of the encoded dataset re-runs the upstream DAG. */
  def encodeWrite(df: DataFrame, path: String,
                  rowsPerChunk: Int = DefaultRowsPerChunk): Unit =
    writeColumnarN(encode(df, rowsPerChunk), path, flatWidth(df))

  /** Read a persisted generic chunk table (`bin_<i>` layout). Projection
    * (`cols`) reaches the parquet byte level: the decode plan's child
    * selects only the requested columns' payloads, and the pruning rule
    * narrows it further under parent Projects. Tables in the pre-round-4
    * single `cols_bin` array layout are refused: re-encode their source
    * with [[encodeWrite]]. */
  def readTable(spark: SparkSession, path: String,
                cols: Seq[String] = Seq.empty): DataFrame = {
    val df = spark.read.parquet(path)
    if (df.schema.fieldNames.contains("cols_bin"))
      throw new IllegalArgumentException(
        s"generic chunk table at $path uses the legacy single-array cols_bin " +
          "layout, which is no longer read; re-encode its source with " +
          "GenericEncode.encodeWrite (per-column bin_<i> layout)")
    val head = df.select("col_names", "col_types").limit(1).collect()
    if (head.isEmpty) spark.emptyDataFrame
    else decodeBins(df, head(0).getSeq[String](0), head(0).getSeq[String](1), cols)
  }

  /** Least common type of two column types under the engine's widening
    * ladder: int→bigint, float→double, and same-scale decimal precision
    * growth (within the long-backed 18-digit cap). Anything else is a
    * REAL schema conflict and fails loudly — silent coercion (e.g.
    * bigint→double) would lose values past 2^53. */
  private[spark] def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case _ if a == b => a
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (x: DecimalType, y: DecimalType) if x.scale == y.scale &&
        math.max(x.precision, y.precision) <= 18 =>
      DecimalType(math.max(x.precision, y.precision), x.scale)
    case (ArrayType(x, n1), ArrayType(y, n2)) =>
      ArrayType(widen(x, y), containsNull = n1 || n2)
    case _ => throw new IllegalArgumentException(
      s"schema merge: incompatible types $a vs $b for the same column name")
  }

  /** Union schema over several inputs: columns matched BY NAME in
    * first-appearance order; shared names widen per [[widen]]; a column
    * absent from any input becomes nullable (its rows fill with null). */
  private[spark] def unionSchema(schemas: Seq[StructType]): StructType = {
    val order = scala.collection.mutable.LinkedHashMap[String, StructField]()
    schemas.foreach(_.fields.foreach { f =>
      order.get(f.name) match {
        case None => order(f.name) = f
        case Some(prev) =>
          order(f.name) = StructField(f.name, widen(prev.dataType, f.dataType),
            nullable = prev.nullable || f.nullable)
      }
    })
    // a column missing from ANY schema must be nullable in the union
    val result = order.values.map { f =>
      if (schemas.exists(s => !s.fieldNames.contains(f.name)))
        f.copy(nullable = true)
      else f
    }
    StructType(result.toArray)
  }

  /** Convert a DataFrame to `target`: reorder columns by name, cast
    * present columns to their widened type, fill missing ones with
    * typed nulls — the reference's per-row-group schema conversion
    * (convert.go:348-443) done declaratively, so Catalyst codegens the
    * casts and the scan still prunes to the columns that exist. */
  private[spark] def convertTo(df: DataFrame, target: StructType): DataFrame = {
    val have = df.schema.fieldNames.toSet
    df.select(target.fields.map { f =>
      if (have.contains(f.name)) fcol(f.name).cast(f.dataType).as(f.name)
      else flit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Schema-evolving compaction over persisted generic chunk tables —
    * the reference's MergeRowGroups for mismatched schemas (merge.go:
    * 20-72): each input converts to the union schema (reorder / null-fill
    * / widen), the union re-encodes into one table at `outDir`.
    * Incremental ingest across a schema change (a routine event on a
    * long-lived 100-TB table) then reads back as ONE table. The decode →
    * convert → re-encode pipeline is fully distributed; nothing but the
    * chunk schemas touches the driver. */
  def mergeTables(spark: SparkSession, dirs: Seq[String], outDir: String,
                  rowsPerChunk: Int = DefaultRowsPerChunk): DataFrame = {
    require(dirs.nonEmpty, "mergeTables: no input tables")
    val dfs = dirs.map(d => readTable(spark, d))
    val target = unionSchema(dfs.map(_.schema))
    val unified = dfs.map(convertTo(_, target)).reduce(_ unionByName _)
    encodeWrite(unified, outDir, rowsPerChunk)
    readTable(spark, outDir)
  }

  // ---------------------------------------------------------------- decode

  /** In-memory chunk table → rows with the original schema (schema is
    * read from the chunks themselves — the reader needs no side channel;
    * struct nesting rebuilds from the flattened leaf names). `cols`
    * restricts the decode to those TOP-LEVEL columns: skipped columns
    * are never CRC'd or decoded. Same plan as [[readTable]], over the
    * in-memory `bin_<i>` frame. */
  def decode(spark: SparkSession, chunks: Dataset[GenericChunk],
             cols: Seq[String] = Seq.empty): DataFrame =
    metaHead(chunks) match {
      case None => spark.emptyDataFrame
      case Some((names, types)) =>
        decodeBins(binFrame(chunks, names.length), names, types, cols)
    }

  /** The one generic decode: the columnar Catalyst decode plan
    * (plans.DecodeChunksExec with a GenericLayout) over a `bin_<i>` frame
    * decodes each chunk column straight into reused OnHeapColumnVectors —
    * no boxed value per row — and a parent Project narrows the decode
    * (and the scan's payload columns) automatically, the same optimizer
    * rules as the token pipeline's decodeDF. Every read column's CRC is
    * verified per chunk. */
  private def decodeBins(bins: DataFrame, names: Seq[String], types: Seq[String],
                         cols: Seq[String]): DataFrame = {
    val (attrs, layout) = decodeLayout(names, types, cols)
    val flat = graft.plans.GraftPlans.decode(bins, attrs, layout)
    if (attrs.exists(_.name.contains(Sep))) unflatten(flat) else flat
  }

  /** Output attributes and decode layout for the requested TOP-LEVEL
    * columns (all when empty); a misspelled column fails loudly instead
    * of decoding to zero-column rows. */
  private def decodeLayout(names: Seq[String], types: Seq[String], cols: Seq[String]) = {
    val selected =
      if (cols.isEmpty) names.indices
      else {
        val keep = names.indices.filter(i => cols.contains(names(i).split(Sep, 2)(0)))
        require(keep.nonEmpty, s"no requested column among $cols in table schema")
        keep
      }
    (selected.map(i => org.apache.spark.sql.catalyst.expressions.AttributeReference(
      names(i), parseType(types(i)), nullable = true)()),
      graft.plans.GenericLayout(selected, selected.map(types)))
  }

  private def parseType(s: String): DataType = s match {
    case "int" => IntegerType
    case "bigint" => LongType
    case "double" => DoubleType
    case "float" => FloatType
    case "boolean" => BooleanType
    case "string" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamp" => TimestampType
    case "timestamp_ntz" => TimestampNTZType
    case "array<int>" => ArrayType(IntegerType)
    case "array<bigint>" => ArrayType(LongType)
    case "array<float>" => ArrayType(FloatType)
    case "array<double>" => ArrayType(DoubleType)
    case "array<string>" => ArrayType(StringType)
    case dec if dec.startsWith("decimal(") =>
      val Array(p, sc) = dec.stripPrefix("decimal(").stripSuffix(")").split(",")
      DecimalType(p.trim.toInt, sc.trim.toInt)
    case other => throw new IllegalArgumentException(s"generic decode: $other")
  }
}
