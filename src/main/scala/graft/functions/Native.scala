package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Row-level kernels behind the native Catalyst expressions. A top-level
  * Scala object gets Java static forwarders, so Janino-generated code can
  * call `graft.functions.NativeKernels.simhash64(b, n)` directly -- the
  * expressions below stay inside whole-stage codegen with a single static
  * call, no Row boxing and no UDF closure dispatch.
  */
object NativeKernels {

  /** Common prefix length (bytes) of two byte arrays. */
  def lcp(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a(i) == b(i)) i += 1
    i.toLong
  }

  /** 64-bit SimHash over all byte n-gram shingles (bag semantics). */
  def simhash64(b: Array[Byte], n: Int): Long =
    Shingles.simhash64(Shingles.allHashes(b, n))

  /** Sliding-window minimum over `h` by a monotone deque: push positions
    * in ascending order; `argmin(start)` is then the position of the
    * minimum of [start, last pushed], the LATER index on ties. Each
    * position enters and leaves the deque at most once, so a full sweep
    * is O(len).
    */
  private final class MinDeque(h: Array[Long]) {
    private val q = new Array[Int](h.length)
    private var qb = 0
    private var qe = 0
    def push(j: Int): Unit = {
      while (qe > qb && h(q(qe - 1)) >= h(j)) qe -= 1
      q(qe) = j; qe += 1
    }
    def argmin(start: Int): Int = {
      while (q(qb) < start) qb += 1
      q(qb)
    }
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS): rolling
    * hash of every byte n-gram, each sliding window of w consecutive
    * hashes contributes its minimum, result = the DISTINCT selected
    * values. Trailing windows shorten naturally (frame
    * [i, min(i+w-1, last)], the SQL `ROWS BETWEEN CURRENT ROW AND w-1
    * FOLLOWING` frame). O(len) via `MinDeque`; its tie rule (the later
    * index) does not change the result, as only values are selected.
    */
  def winnow(b: Array[Byte], n: Int, w: Int): ArrayData = {
    require(w >= 1, "window w must be >= 1")
    val h = if (b == null) Array.emptyLongArray
            else PolyHash.windowHashes(b, n, PolyHash.B1)
    val m = h.length
    val out = scala.collection.mutable.LongMap.empty[Unit]
    if (m > 0) {
      val dq = new MinDeque(h)
      var j = 0
      while (j < m) {
        dq.push(j)
        if (j >= w - 1) out.update(h(dq.argmin(j - w + 1)), ()) // full window
        j += 1
      }
      // trailing shortened windows [i, m-1]: suffix minima off the deque
      var i = math.max(0, m - w + 1)
      while (i < m) {
        out.update(h(dq.argmin(i)), ())
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out.keysIterator.toArray)
  }

  /** Run fingerprints: a doc-level filter for exact substring dedup at
    * `minLen`. Winnowing with w = minLen / 8 (at least 1) and
    * n = minLen - w + 1, so a minLen-byte window spans exactly w n-gram
    * hashes; FULL windows only. Each selected value is emitted once, and
    * once more if the doc selects it at a second position (never more
    * often). So a value that appears twice in the union of every doc's
    * output -- from two docs, or twice from one -- marks each of its
    * holders as possibly holding a duplicated minLen run, and every doc
    * that does hold one is marked:
    *  - a minLen window two docs share is one full run of w hashes in
    *    both, so both select its minimum;
    *  - a minLen window that repeats at p < q inside one doc selects the
    *    same value at p + i and q + i (ties keep the later index in both
    *    copies alike), i.e. at two positions.
    * A hash collision can only add marks. A doc shorter than minLen (and
    * null) emits nothing. Selected positions only ever move forward, so
    * a doc emits about 2 / (w + 1) values per window (the winnowing
    * density) -- a highly periodic doc at most two per distinct value.
    */
  def runFingerprints(b: Array[Byte], minLen: Int): ArrayData = {
    val w = math.max(1, minLen / 8)
    val h = if (b == null) Array.emptyLongArray
            else PolyHash.windowHashes(b, minLen - w + 1, PolyHash.B1)
    val m = h.length
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    if (m >= w) {
      val emitted = scala.collection.mutable.LongMap.empty[Int]
      val dq = new MinDeque(h)
      var last = -1
      var j = 0
      while (j < m) {
        dq.push(j)
        if (j >= w - 1) {
          val p = dq.argmin(j - w + 1)
          if (p != last) {
            last = p
            val c = emitted.getOrElse(h(p), 0)
            if (c < 2) { emitted.update(h(p), c + 1); out += h(p) }
          }
        }
        j += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out.result())
  }
}

/** Window-frame generator: one output row (h1, h2, pos) per in-doc
  * window position, computed by the same rolling-hash kernels as
  * `PolyHash.windowHashes2` / `windowHashesLongs2`. Replaces the typed
  * `Dataset.mapPartitions` window generation (round-6 guide §1.2 "per-task
  * work"): the typed path allocates a `Tuple4` plus four boxed Longs per
  * position (1e8+ positions per corpus pass) across a
  * DeserializeToObject/SerializeFromObject boundary; this Generator
  * evaluates inside `GenerateExec` against a single reused
  * `SpecificInternalRow` (primitive setters, zero per-row allocation) and
  * keeps the scan -> generate -> exchange pipeline in one visible plan.
  *
  * Two input shapes, keyed by child type (SubstringDedup's one
  * `unitWindows` call site generates every window unit through them):
  *  - binary: byte windows (unit Bytes)
  *  - array<bigint>: a digit stream -- pre-tokenized ids (unit Ids), or
  *    whitespace tokens already hashed to digits by the built-in
  *    `xxhash64` (unit Tokens); `reversed` mirrors the stream
  * Null input (null text / null digit array) generates nothing. A null
  * ELEMENT of an array input is malformed data and fails the task with an
  * IllegalArgumentException naming the element index: it has no digit
  * (a null id is not id 0), and dropping it would shift every later
  * window offset. Arrays typed containsNull=true are still accepted at
  * analysis time -- `cast("array<long>")` of a JSON-inferred id array
  * yields that type even when no element is null.
  */
case class GraftWindowGen(child: Expression, winLen: Int, reversed: Boolean,
                          withBytes: Boolean = false)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(winLen >= 1, s"winLen $winLen must be >= 1")
  // `withBytes` (byte mode only): additionally emit the window's raw
  // bytes per row -- the inline-verification shape for small minLen,
  // where the window slice is no wider than a digest and carrying it
  // through the one exchange replaces the whole corpus-join
  // verification stage (see SubstringDedup.removeRanges)
  override def elementSchema: StructType = {
    val base = new StructType()
      .add("h1", LongType, nullable = false)
      .add("h2", LongType, nullable = false)
      .add("pos", LongType, nullable = false)
    if (withBytes) base.add("w", BinaryType, nullable = false) else base
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType if reversed =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "reversed applies to token/id streams, not bytes")
      case ArrayType(LongType, _) if withBytes =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "withBytes applies to byte streams only")
      case BinaryType | ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_window_gen takes binary or array<bigint>, got $t")
    }
  override def prettyName: String = "graft_window_gen"

  /** Array index of the i-th stream element (mirrored when `reversed`),
    * rejecting a null element.
    */
  private def element(a: ArrayData, n: Int, i: Int): Int = {
    val j = if (reversed) n - 1 - i else i
    if (a.isNullAt(j)) throw new IllegalArgumentException(
      s"$prettyName: null array element at index $j")
    j
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val (o1, o2) = v match {
      case b: Array[Byte] => PolyHash.windowHashes2(b, winLen)
      case a: ArrayData =>
        val n = a.numElements()
        val digits = new Array[Long](n)
        var i = 0
        while (i < n) {
          digits(i) = a.getLong(element(a, n, i))
          i += 1
        }
        PolyHash.windowHashesLongs2(digits, winLen)
    }
    if (o1.isEmpty) Iterator.empty
    else if (withBytes) {
      val b = v.asInstanceOf[Array[Byte]]
      val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(
        Seq(LongType, LongType, LongType, BinaryType))
      new Iterator[InternalRow] {
        private var i = 0
        def hasNext: Boolean = i < o1.length
        def next(): InternalRow = {
          row.setLong(0, o1(i)); row.setLong(1, o2(i)); row.setLong(2, i.toLong)
          row.update(3, java.util.Arrays.copyOfRange(b, i, i + winLen))
          i += 1
          row
        }
      }
    } else {
      // one reused mutable row: GenerateExec consumes each yielded row
      // (unsafe-projects it into the output) before requesting the next,
      // the same reuse contract Spark's own generators rely on
      val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(
        Seq(LongType, LongType, LongType))
      new Iterator[InternalRow] {
        private var i = 0
        def hasNext: Boolean = i < o1.length
        def next(): InternalRow = {
          row.setLong(0, o1(i)); row.setLong(1, o2(i)); row.setLong(2, i.toLong)
          i += 1
          row
        }
      }
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `graft_simhash64(bytes, n)`: 64-bit SimHash over byte n-gram
  * shingles of a binary value.
  */
case class GraftSimHash64(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash64"
  override protected def nullSafeEval(b: Any, n: Any): Any =
    NativeKernels.simhash64(b.asInstanceOf[Array[Byte]], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, n) => s"graft.functions.NativeKernels.simhash64($b, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `GraftFunctions.winnow(bytes, n, w)`: distinct winnowing fingerprints
  * (array<bigint>) -- min-of-each-w-window over rolling n-gram hashes.
  */
case class GraftWinnow(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_winnow"
  override protected def nullSafeEval(b: Any, n: Any, w: Any): Any =
    NativeKernels.winnow(b.asInstanceOf[Array[Byte]], n.asInstanceOf[Int], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, n, w) => s"graft.functions.NativeKernels.winnow($b, $n, $w)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** `GraftFunctions.runFingerprints(bytes, minLen)`: run fingerprints
  * (array<bigint>, see `NativeKernels.runFingerprints`) -- docs that
  * share or repeat a minLen-byte run hold a value twice between them.
  */
case class GraftRunFingerprints(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_run_fingerprints"
  override protected def nullSafeEval(b: Any, minLen: Any): Any =
    NativeKernels.runFingerprints(b.asInstanceOf[Array[Byte]], minLen.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, minLen) =>
      s"graft.functions.NativeKernels.runFingerprints($b, $minLen)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The engine's SQL function surface: native codegen expressions,
  * injectable into any session via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`).
  */
object GraftFunctions {
  private def column(e: Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def expr(c: Column): Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  // ---- Column-side wrappers (usable without any registration) ----

  /** 64-bit SimHash over byte n-gram shingles of a binary column. */
  def simhash64(b: Column, n: Int): Column =
    column(GraftSimHash64(expr(b), org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** Distinct winnowing fingerprints of a binary column. */
  def winnow(b: Column, n: Int, w: Int): Column =
    column(GraftWinnow(expr(b),
      org.apache.spark.sql.catalyst.expressions.Literal(n),
      org.apache.spark.sql.catalyst.expressions.Literal(w)))

  /** Run fingerprints of a binary column at `minLen`. */
  def runFingerprints(b: Column, minLen: Int): Column =
    column(GraftRunFingerprints(expr(b),
      org.apache.spark.sql.catalyst.expressions.Literal(minLen)))

  /** Window-frame generator column (use with multi-alias in a select:
    * one (h1, h2, pos) row per window position of a binary or
    * array<bigint> column).
    */
  def windowGen(in: Column, winLen: Int, reversed: Boolean = false,
                withBytes: Boolean = false): Column =
    column(GraftWindowGen(expr(in), winLen, reversed, withBytes))

  // ---- SQL registration (FunctionRegistry descriptions) ----

  private def desc(name: String, usage: String, arity: Int,
                   build: Seq[Expression] => Expression) = {
    val info = new ExpressionInfo(getClass.getName, null, name, usage, "")
    val checked: Seq[Expression] => Expression = { exprs =>
      require(exprs.length == arity,
        s"$name expects $arity arguments, got ${exprs.length}")
      build(exprs)
    }
    (FunctionIdentifier(name), info, checked)
  }

  /** Native-expression descriptions for SparkSessionExtensions. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    desc("graft_simhash64",
      "graft_simhash64(bytes, n) - 64-bit SimHash over byte n-gram shingles",
      2, es => GraftSimHash64(es(0), es(1))))
}

/** SparkSessionExtensions entry point: activate with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.descriptions.foreach(ext.injectFunction)
}
