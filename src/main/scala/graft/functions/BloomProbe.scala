package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Driver-side registry that ships a serialized Bloom filter to executors
  * ONCE, as a real torrent [[Broadcast]], instead of embedding the bytes as
  * a plan literal.
  *
  * Why this exists (measured, r18): `bloom_might_contain(lit(bytes), h)`
  * puts the filter bytes inside the expression tree, so they ride the TASK
  * BINARY — every task deserializes its own multi-MB copy (a 45M-bit gate
  * filter is 5.6 MB; 32 tasks × 2 shuffle stages = ~360 MB of humongous
  * allocations per query run). Under an aged heap those allocations turn
  * into G1 full-GC storms: the e9b gate row degraded 1.5 s → 42 s across
  * repetitions with task DESERIALIZATION alone reaching 39 s per stage. A
  * broadcast ships the bytes once per executor, and [[BloomMightContainBc]]
  * deserializes the probe-ready filter once per JVM — per-task cost is a
  * handle lookup, independent of filter size, which is the only posture
  * that survives a 10⁸-shingle (hundreds of MB) eval-suite filter on a
  * 1000-executor cluster.
  *
  * Registry lifetime: one entry per DISTINCT filter content per
  * application (keyed by md5 of the bytes), matching the artifact's
  * periodic nature — a bench-release filter is built/loaded once and
  * probed by every decontamination job until the app ends. [[unregister]]
  * exists for tests and true retirement; it destroys the broadcast and
  * drops the executor-side deserialized filter.
  */
object BloomBroadcasts {
  /** Registry bound (VERDICT r18 #3: the r18 registry was append-only for
    * the application's lifetime — a long-lived session cycling many
    * filters would accumulate a broadcast per distinct content forever).
    * Past the bound, the least-recently-USED entry's broadcast is
    * destroyed — the same semantics as an explicit [[unregister]]. The
    * bound must exceed the number of CONCURRENTLY-live filters (a plan
    * still running against an evicted broadcast fails loudly, exactly as
    * it would after unregister); 64 is far past any real pipeline's
    * simultaneous decontamination-filter count while keeping worst-case
    * pinned memory at 64 × filter size.
    */
  private[graft] val MaxEntries = 64
  // access-order LinkedHashMap = the LRU; all access under this object's
  // monitor (register/lookup/unregister are driver-side, never hot)
  private val byContent =
    new java.util.LinkedHashMap[String, Broadcast[Array[Byte]]](16, 0.75f, true)
  // executor-side: broadcast id -> deserialized probe-ready filter (one
  // per JVM; local mode shares the driver map, which is also correct)
  private val filters =
    new java.util.concurrent.ConcurrentHashMap[Long, BloomFilter]()

  private def drop(bc: Broadcast[Array[Byte]]): Unit = {
    filters.remove(bc.id)
    bc.destroy()
  }

  /** Broadcast `bf` (idempotent per content) and return its registry key.
    * May evict (destroy) the least-recently-used entry past [[MaxEntries]].
    */
  def register(s: SparkSession, bf: Array[Byte]): String = {
    require(bf != null && bf.nonEmpty, "cannot register an empty bloom filter")
    val key = s"${s.sparkContext.applicationId}/${TextFunctions.md5Hex(bf)}"
    synchronized {
      if (byContent.get(key) == null) { // get refreshes recency when present
        byContent.put(key, s.sparkContext.broadcast(bf))
        while (byContent.size > MaxEntries) {
          val it = byContent.entrySet().iterator()
          val eldest = it.next()
          it.remove()
          drop(eldest.getValue)
        }
      }
    }
    key
  }

  private[graft] def lookup(key: String): Broadcast[Array[Byte]] =
    synchronized {
      val bc = byContent.get(key) // refreshes recency
      require(bc != null,
        s"bloom_probe: no filter registered under '$key' — keys come from " +
          "BloomBroadcasts.register in the same application (LRU-bounded: " +
          s"at most $MaxEntries filters stay registered)")
      bc
    }

  private[graft] def filterFor(bc: Broadcast[Array[Byte]]): BloomFilter =
    filters.computeIfAbsent(bc.id, _ =>
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(bc.value)))

  private[graft] def registeredCount: Int = synchronized { byContent.size }

  /** Test/retirement hook: destroy the broadcast and drop caches. */
  def unregister(key: String): Unit = synchronized {
    val bc = byContent.remove(key)
    if (bc != null) drop(bc)
  }
}

/** `bloom_probe(key, hash)` — Bloom membership against a BROADCAST filter
  * (see [[BloomBroadcasts]] for why not a literal). Same spark-sketch
  * probe as Spark's own `BloomFilterMightContain`
  * (`BloomFilterImpl.mightContainLong`), so results are bit-identical to
  * the literal form; only the shipping vehicle differs. Works codegen'd in
  * scan filters and interpreted inside higher-order-function lambdas (the
  * streaming row-local gate).
  */
case class BloomMightContainBc(bcast: Broadcast[Array[Byte]], child: Expression)
    extends UnaryExpression with Predicate {

  override def prettyName: String = "bloom_probe"
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bloom_probe requires a LONG hash, got ${t.simpleString}")
  }

  // one deserialized filter per JVM per broadcast, shared across tasks
  @transient private lazy val filter = BloomBroadcasts.filterFor(bcast)

  def probe(h: Long): Boolean = filter.mightContainLong(h)

  override def nullSafeEval(h: Any): Any = probe(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference THIS expression instance: the generated code carries only
    // the reference-array slot; the broadcast handle (not the bytes)
    // serializes with it
    val ref = ctx.addReferenceObj("bloomProbe", this,
      classOf[BloomMightContainBc].getName)
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $ref.probe($h);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : BloomMightContainBc = copy(child = newChild)
}
