package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector column expressions for the frame-hash / embedding data model.
  *
  * Re-expresses the reference's vector scalar pipeline (shotit-worker
  * `loader.js:110-143`, `searcher.js:42-61`) as codegen-friendly Catalyst
  * expressions built from `org.apache.spark.sql.functions` higher-order
  * functions — no UDFs, so every op stays inside whole-stage codegen and
  * distributes without serialization overhead.
  *
  * Determinism note: [[dot]] and [[l2Norm]] fold left-to-right in DOUBLE, so
  * results are bit-identical to any sequential double-precision evaluation of
  * the same element order (the property the correctness oracle relies on).
  */
object VectorFunctions {

  /** Inner product of two ARRAY<numeric> columns, accumulated sequentially in
    * DOUBLE. The reference's Milvus `MetricType.IP` scoring
    * (`searcher.js:104`). Codegen'd; for the hot search path see also the
    * native expression [[graft.functions.DotProduct]] (`fast_dot`).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Same semantics as [[dot]] (bit-identical sequential double fold) via
    * the native codegen'd [[graft.functions.DotProduct]] expression —
    * requires a session with [[graft.GraftExtensions]] registered
    * (GraftSession sets `spark.sql.extensions`). One fused loop, no
    * intermediate array: the hot-path form for scored scans.
    */
  def fastDot(a: Column, b: Column): Column = call_function("fast_dot", a, b)

  /** Squared L2 distance, accumulated sequentially in DOUBLE — the
    * composed (extension-free) twin of [[graft.functions.L2SqDistance]];
    * bit-identical by the same sequential-fold argument as [[dot]].
    */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0),
      (acc, x) => acc + x)

  /** [[l2Sq]] via the native codegen'd [[graft.functions.L2SqDistance]]
    * expression — requires a session with [[graft.GraftExtensions]].
    */
  def fastL2Sq(a: Column, b: Column): Column = call_function("fast_l2sq", a, b)

  /** Sum of squares, sequential double fold. */
  def sumSquares(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))

  /** L2 norm (`loader.js:120-128` uses BigDecimal sqrt; we use IEEE double —
    * divergence is ≤1 ulp and documented in SURVEY §7.4).
    */
  def l2Norm(v: Column): Column = sqrt(sumSquares(v))

  /** L2-normalize `v` given a pre-computed norm column. Pass the norm
    * explicitly so it is evaluated once per row, not once per element
    * (Catalyst does not CSE across lambda bodies).
    */
  def l2NormalizeWith(v: Column, norm: Column): Column =
    transform(v, x => x.cast("double") / norm)

  /** Parse the reference's hash string — ~dim space-separated hex codes ≤3
    * digits (`loader.js:99-117`) — into a fixed-length double vector,
    * zero-padded to `dim` (`loader.js:113-116`).
    */
  def parseHexVector(c: Column, dim: Int): Column =
    slice(
      concat(
        transform(split(c, " "), x => conv(x, 16, 10).cast("double")),
        array_repeat(lit(0.0), dim)),
      1, dim)

  /** Char-code-sum primary key, bug-compatible with `loader.js:131-143`
    * (Σ UTF-16 code units; collides on permutations). Engine-recommended key
    * is `xxhash64(hash_id)` — use [[enginePrimaryKey]] for new data.
    */
  def charCodeSum(c: Column): Column =
    aggregate(split(c, ""), lit(0L), (acc, ch) => acc + ascii(ch))

  /** Collision-resistant engine key replacing the reference's char-code sum
    * (divergence recorded in SURVEY §7.4 item 3).
    */
  def enginePrimaryKey(hashId: Column): Column = xxhash64(hashId)

  /** Composite natural key `"imdbId/fileName/time(2dp)"` (`loader.js:241`). */
  def hashId(imdbId: Column, fileName: Column, time: Column): Column =
    concat_ws("/", imdbId, fileName, format_string("%.2f", time.cast("double")))
}
