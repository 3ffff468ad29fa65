package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.{PageState, RecentChange, TrendConfig}
import graft.operators.PageAggregates
import graft.streaming.TrendStream

/** The reference's public surface re-expressed Spark-first
  * (`WikiSocketCollection`, index.js:102-456 and the demo boards at
  * examples/index.js:20-48): snapshot scans, point lookups, control ops
  * (drop / markSafe / protect), top-k trend boards, and an `onEdit`
  * subscription for streams.
  *
  * Design: the batch collection is a *view* over an events DataFrame —
  * aggregates are recomputed by Catalyst per query (cheap: one hash-agg)
  * while the reference's imperative mutators (`drop`, `markSafe`,
  * `protectPage`) become driver-side control metadata applied as filters /
  * projections. That keeps every read declarative and distributed: control
  * sets are tiny (human-issued commands) and broadcast naturally via
  * `isin`.
  */
final class TrendCollection(
    val spark: SparkSession,
    events: DataFrame,
    cfg: TrendConfig = TrendConfig()) {

  // Control metadata (reference: mutable flags on WikiPage / key deletes).
  // AtomicReference, not @volatile var: control ops arrive from UI/admin
  // threads while a query thread serves boards. Volatile gives readers
  // visibility, but `set += id` is a read-modify-write — two concurrent
  // drops would each extend the SAME snapshot and the second write would
  // silently erase the first. updateAndGet makes the mutation atomic;
  // readers still see an immutable Set snapshot.
  private val droppedIds =
    new java.util.concurrent.atomic.AtomicReference(Set.empty[String])
  private val safeIds =
    new java.util.concurrent.atomic.AtomicReference(Set.empty[String])
  private val protectedIds =
    new java.util.concurrent.atomic.AtomicReference(Set.empty[String])

  /** As-of instant for the time-derived metrics: max event ts unless set.
    * The max-ts aggregate is memoized — without it every snapshot/board
    * call would launch the full-scan job twice (survivors + metrics).
    */
  @volatile private var asOfOverride: Option[Timestamp] = None

  def withAsOf(ts: Timestamp): this.type = { asOfOverride = Some(ts); this }

  private lazy val maxEventTs: Timestamp =
    events.agg(max(col("ts"))).collect()(0).getTimestamp(0)

  private def asOfCol = lit(asOfOverride.getOrElse(maxEventTs))

  private def idOf(title: String, wiki: String): String =
    graft.functions.Classifiers.pageIdStr(wiki, title)

  /** All live pages with metrics (reference `getPages`, index.js:453-456).
    * "Live" = survives the eviction policy (A7) and isn't dropped.
    */
  def getPages(): DataFrame =
    pagesOver(PageAggregates.canonicalizeRenames(events, cfg))

  /** getPages over an ALREADY-CANONICALIZED event view — boards that also
    * need a second aggregate of the same events (topByBias) canonicalize
    * once and feed both from it, instead of re-running the driver-side
    * move-log collect + broadcast per aggregate.
    */
  private def pagesOver(canonical: DataFrame): DataFrame = {
    val aggregated = PageAggregates.pageAggregates(canonical, cfg)
    val dropped = droppedIds.get(); val safe = safeIds.get()
    // coalesce over the isin: a NULL id (malformed wire message -> null
    // title -> null pageId group) makes `id.isin(...)` NULL, so the
    // bare negation would silently DROP the null-id page the moment any
    // unrelated drop() runs — and the flag columns would read NULL
    // instead of false. Null ids were never dropped/flagged: false.
    def inSet(ids: Set[String]): org.apache.spark.sql.Column =
      coalesce(col("id").isin(ids.toSeq: _*), lit(false))
    val notDropped =
      if (dropped.isEmpty) aggregated
      else aggregated.filter(!inSet(dropped))
    val withSafe = notDropped.withColumn("safe",
      if (safe.isEmpty) lit(false) else inSet(safe))
    // isProtected in the batch view too, so the batch and streaming Q1
    // surfaces expose the same schema (stateSnapshot carries the flag).
    val prot = protectedIds.get()
    val withProt = withSafe.withColumn("isProtected",
      if (prot.isEmpty) lit(false) else inSet(prot))
    val alive = PageAggregates.survivors(withProt, asOfCol, cfg)
    PageAggregates.withMetrics(alive, asOfCol)
  }

  /** Point lookup (reference `getPage`, index.js:436-449). Unlike the
    * reference this does NOT create empty state — a batch view has nothing
    * to create; absent page → None.
    */
  def getPage(title: String, wiki: String): Option[org.apache.spark.sql.Row] =
    getPages().filter(col("id") === idOf(title, wiki)).collect().headOption

  /** Drop a page (reference `drop`, index.js:427-430). A null title is
    * rejected loudly: `idOf` would yield a null id (the pageIdStr
    * column-twin contract), the null would pollute every later `isin`
    * literal list, and `isin(null, …)` can never match any row — not
    * even the deliberately-retained null-id page — so the admin call
    * would read as success while targeting nothing.
    */
  def drop(title: String, wiki: String): Unit = {
    require(title != null, "drop(null, …): a null title targets nothing " +
      "— the null-id malformed-feed page is not addressable by title")
    droppedIds.updateAndGet(_ + idOf(title, wiki))
  }

  /** Eviction exemption toggle (reference `markSafe`, index.js:409-411). */
  def markSafe(id: String, unsafe: Boolean = false): Unit = {
    require(id != null, "markSafe(null): a null id matches no page " +
      "(isin(null, …) is never true) — the call would silently no-op")
    safeIds.updateAndGet(s => if (unsafe) s - id else s + id)
  }

  /** Mark a page protected (reference `protectPage`, index.js:417-422).
    * Like the stream twin (TrendStream A5) this applies the INTENDED
    * same-key semantics — the reference builds the id as wiki+'/'+title
    * unconditionally there, so its flag never lands for enwiki bare-title
    * keys; that quirk is documented, not replicated.
    */
  def protectPage(title: String, wiki: String): Unit = {
    require(title != null, "protectPage(null, …): a null title targets " +
      "nothing (the drop() rule)")
    protectedIds.updateAndGet(_ + idOf(title, wiki))
  }

  /** Top-k boards (examples/index.js:20-48) — planned as
    * TakeOrderedAndProject, never a full sort.
    */
  def topByEditsPerMinute(k: Int = 5): DataFrame =
    PageAggregates.topK(getPages(), "editsPerMinute", k)

  def topByBytesChanged(k: Int = 5): DataFrame =
    PageAggregates.topK(getPages(), "bytesChanged", k)

  /** Author-bias board: needs the per-editor distribution (M4). The
    * distribution is computed over rename-CANONICALIZED events so its ids
    * line up with getPages() (which aggregates under final titles).
    */
  def topByBias(k: Int = 5): DataFrame = {
    val canonical = PageAggregates.canonicalizeRenames(events, cfg)
    // Quant.q6: the ONE floor-to-1e-6-grid definition (floor of an IEEE
    // double is unambiguous cross-engine where round() at a .5 boundary
    // is not) — a hand-rolled copy here could drift from the trend_bias
    // oracle it claims to match.
    val dist = PageAggregates.distribution(canonical, cfg)
      .select(col("id"),
        graft.operators.Quant.q6(
          PageAggregates.bias(col("distribution"))).as("bias"))
    // The shared topK, like the sibling boards — a hand-rolled
    // orderBy/limit copy here could drift from its tie-break and the
    // TakeOrderedAndProject plan claim.
    PageAggregates.topK(
      pagesOver(canonical).join(dist, Seq("id"), "left")
        .withColumn("bias", coalesce(col("bias"), lit(0.0))),
      "bias", k)
  }
}

object TrendCollection {

  /** Batch collection over an events DataFrame with RecentChange schema. */
  def apply(spark: SparkSession, events: DataFrame,
      cfg: TrendConfig = TrendConfig()): TrendCollection =
    new TrendCollection(spark, events, cfg)

  /** Streaming subscription (reference `on('edit')`, index.js:146-148 +
    * emit at index.js:341): runs the stateful trend pipeline and invokes
    * `onEdit` with each micro-batch of refreshed PageStates. The
    * checkpoint dir is the reference's LevelDB cache (S2/S3) —
    * exactly-once instead of a 20-second lossy snapshot.
    *
    * `commands` (Q4): an optional drop/markSafe control stream applied
    * inside the keyed state, mirroring `markSafe` index.js:409-411 and
    * `drop` index.js:427-430 on the live collection.
    *
    * `evict`/`trigger`: a LIVE subscription keeps the cleaner timers armed
    * (the reference's 20 s `setInterval`, index.js:344-346) and runs
    * micro-batches as data arrives. A FINITE replay (tests, backfills) must
    * pass `evict = false` + `Trigger.AvailableNow()` — with
    * processing-time timers armed the engine schedules batches to service
    * them forever and a drain-and-stop trigger never terminates.
    *
    * The checkpoint is written through
    * [[graft.streaming.LocalCheckpointFileManager]] (installed by
    * `TrendStream.pageStates`) unless the session already names a
    * `spark.sql.streaming.checkpointFileManagerClass`; a user-set class
    * wins.
    */
  def streaming(
      events: Dataset[RecentChange],
      checkpointDir: String,
      cfg: TrendConfig = TrendConfig(),
      commands: Option[Dataset[TrendStream.TrendCommand]] = None,
      evict: Boolean = true,
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      onEdit: (Dataset[PageState], Long) => Unit): StreamingQuery =
    TrendStream.pageStates(events, cfg, evict = evict, commands = commands)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[PageState], id: Long) => onEdit(batch, id) }
      .start()

  /** Q1 over the LIVE streaming query: read the flatMapGroupsWithState
    * state store straight out of the checkpoint (Spark's state data
    * source) — the streaming analog of the reference's `getPages` over the
    * in-memory `titles` map (index.js:453-456). Readable while the query
    * runs (it reads the last COMMITTED batch's store) or after it stops.
    */
  def stateSnapshot(spark: SparkSession, checkpointDir: String): DataFrame = {
    val raw = spark.read.format("statestore")
      .option("path", checkpointDir)
      .load()
    // Layout for fgws: key = groupByKey key struct; value nests the state
    // object under `groupState` (plus the engine's timeoutTimestamp field
    // when the query ran with ProcessingTimeTimeout). Project the
    // PageState column set — derived from the encoder schema, not a
    // hand-synced name list (a field added to PageState would otherwise
    // silently vanish from every Q1 snapshot while the batch view
    // carries it; Encoders.product preserves declaration order) — so
    // the engine bookkeeping never leaks.
    val fields = org.apache.spark.sql.Encoders.product[PageState]
      .schema.fieldNames.toSeq
    val valueType = raw.schema("value").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val base =
      if (valueType.fieldNames.contains("groupState")) "value.groupState"
      else "value"
    raw.select(fields.map(f => col(s"$base.$f").as(f)): _*)
  }

  /** The reference's `clearCache` (index.js:131-139): wipe the persisted
    * state so the next run starts cold. Deletes the checkpoint and/or
    * state-table dirs.
    */
  def clearCache(spark: SparkSession, dirs: String*): Unit = {
    import org.apache.hadoop.fs.Path
    dirs.foreach { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) { fs.delete(p, true); () }
    }
  }
}
