package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Barrier.BarrierOps

/** Generation-manifest codec and lifecycle shared by the six persisted
  * index families ([[ExactDedupIndex]], [[DedupIndex]], [[MediaIndex]],
  * [[StatsIndex]], [[Search]]'s lexical postings, [[Similarity]]'s ANN
  * cell dirs): numbered JSON manifests, dot-temp staged commits, and the
  * grace-window generation sweep.
  *
  * The split: each family declares its manifest SCHEMA once, as a
  * constant [[Family]] (its dir-list keys with their gen-0 adoption
  * names, its meta key, whether it carries tombstones, and which names
  * count as sweepable data dirs). This object owns everything that
  * reads or writes a manifest — the [[layout]] read (including the
  * adoption of a pre-manifest index as generation 0), the decode with
  * its family guard, the [[commit]], and the [[sweep]] — so a format,
  * guard or crash-safety fix lands exactly once. On top of the codec
  * sit the families' liveness kernels and their lifecycle skeletons
  * ([[append]], [[retract]], [[compact]] with [[foldLive]], [[sync]]),
  * each written once. What a family's dirs HOLD (row encodings, bucket
  * functions, the mapping from [[Layout.metaVals]] to its geometry) and
  * its membership probe stay with the family.
  *
  * Commit protocol (the [[graft.streaming.IncrementalTrend]] pattern):
  * data dirs exist on disk BEFORE any manifest references them, and the
  * rename of the staged dot-temp onto `manifest-<seq>.json` is the
  * atomic commit point — a reader resolves either the old generation or
  * the new one, never a torn index. Writers are SINGLE-WRITER by
  * contract; the commit refuses an already-existing destination so a
  * same-generation race fails loudly even on posix-like filesystems
  * (where a bare rename silently REPLACES the winner's manifest — HDFS
  * rename fails instead). The check-then-rename is not atomic, so this
  * is a backstop, not a license to run concurrent writers.
  */
private[graft] object GenManifest {

  private val ManifestRe = """manifest-(\d{10})\.json""".r
  def manifestName(seq: Long): String = f"manifest-$seq%010d.json"

  /** One index family's manifest schema. `dirKeys` lists the JSON key
    * of each named dir list with the dir a pre-manifest index holds it
    * in (its gen-0 adoption name), in the order the keys are written;
    * `metaKey` names the meta-dir key (its adoption dir has the same
    * name); `tombstones` admits the optional `tdirs` list; `dataDir`
    * positive-matches the ONLY names a sweep may delete, so index
    * metadata can never be collected by a bug in the referenced-set
    * arithmetic.
    */
  final case class Family(name: String, dirKeys: Seq[(String, String)],
      metaKey: Option[String], tombstones: Boolean,
      dataDir: scala.util.matching.Regex) {
    /** The layout keys a manifest of this family carries, exactly. */
    val keys: Set[String] = dirKeys.map(_._1).toSet ++ metaKey

    /** Generation 0 of an index built before manifests existed. */
    def adopted: Layout =
      Layout(0L, dirKeys.map { case (k, d) => k -> Seq(d) }.toMap, Nil,
        metaKey, None)
  }

  /** One committed generation: its seq, the named dir lists (keyed by
    * the family's `dirKeys`), the tombstone dirs, the meta dir, and the
    * manifest-carried meta fields (None on an adopted or pre-metaVals
    * index — readers then read the family's meta parquet).
    */
  final case class Layout(seq: Long, dirs: Map[String, Seq[String]],
      tDirs: Seq[String], metaDir: Option[String],
      metaVals: Option[Map[String, Long]]) {
    def apply(key: String): Seq[String] = dirs(key)
    def meta: String = metaDir.getOrElse(
      throw new NoSuchElementException("this index family has no meta dir"))
    /** Every dir name this generation keeps alive. */
    def referenced: Seq[String] = dirs.values.flatten.toSeq ++ tDirs ++ metaDir

    /** The next generation with each `key -> dir` added to its list. */
    def appended(adds: (String, String)*): Layout = copy(seq = seq + 1,
      dirs = dirs ++ adds.map { case (k, d) => k -> (dirs(k) :+ d) })
    /** The next generation with `tDir` added as a tombstone dir. */
    def retracted(tDir: String): Layout =
      copy(seq = seq + 1, tDirs = tDirs :+ tDir)
    /** The next generation folded to one dir per key, tombstones gone. */
    def compacted(folds: (String, String)*): Layout = copy(seq = seq + 1,
      dirs = folds.map { case (k, d) => k -> Seq(d) }.toMap, tDirs = Nil)
  }

  def fsRoot(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val root = new Path(dir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Recursively delete an index root before a full rebuild — ONE
    * implementation for every index family, so a future reset-protocol
    * change (trash-instead-of-delete, extra validation) lands exactly
    * once. Callers own validate-BEFORE-destroy: every build must run its
    * input guards before calling this.
    */
  def resetDir(spark: SparkSession, dir: String): Unit = {
    val (fs, root) = fsRoot(spark, dir)
    if (fs.exists(root)) fs.delete(root, true)
  }

  /** Highest committed generation, None when no manifest file exists
    * (the index then adopts as generation 0). */
  private def latestSeq(fs: FileSystem, root: Path): Option[Long] = {
    val seqs =
      if (!fs.exists(root)) Seq.empty[Long]
      else fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
        case ManifestRe(d) => d.toLong
      }
    if (seqs.isEmpty) None else Some(seqs.max)
  }

  /** The live layout of `fam`'s index at `dir`: the newest manifest, or
    * the family's adoption layout when none exists yet. */
  def layout(spark: SparkSession, dir: String, fam: Family): Layout = {
    val (fs, root) = fsRoot(spark, dir)
    layoutAt(fs, root, fam, latestSeq(fs, root).getOrElse(0L))
  }

  /** The layout of a SPECIFIC generation. Gen 0 without a manifest file
    * is the adoption layout — the sweep must treat it as live, or the
    * first post-adoption commit would delete the adopted dirs out from
    * under a reader. Any other missing generation fails loudly on the
    * read path (a damaged index or a single-writer violation; an empty
    * layout would surface as an unrelated empty-reduce crash). */
  private def layoutAt(fs: FileSystem, root: Path, fam: Family,
      g: Long): Layout = {
    val p = new Path(root, manifestName(g))
    if (fs.exists(p)) {
      val in = fs.open(p)
      val node = try new ObjectMapper().readTree(in) finally in.close()
      decode(node, fam, g, s"manifest generation $g under $root")
    } else if (g == 0L) fam.adopted
    else throw new IllegalStateException(
      s"index manifest generation $g is missing under $root — " +
        "damaged index or concurrent writer")
  }

  /** Decode one manifest behind the family guard: its layout keys (all
    * but `metaVals`, and `tdirs` for a tombstone family) must be EXACTLY
    * the family's keys. Key presence alone is not enough: a stats
    * manifest (cdirs/hdirs/meta) carries every key of an exact-dedup one
    * (hdirs/meta), and a reader that accepted it would die later on an
    * uncurated error against the wrong tables. An empty (or scalar —
    * elements() is then empty) dir list is damage, not an empty index.
    */
  private def decode(node: JsonNode, fam: Family, g: Long,
      what: String): Layout = {
    import scala.jdk.CollectionConverters._
    val found = node.fieldNames().asScala.toSet - "metaVals" --
      (if (fam.tombstones) Set("tdirs") else Set.empty[String])
    if (found != fam.keys) {
      val article = if ("aeiouAEIOU".contains(fam.name.head)) "an" else "a"
      throw new IllegalStateException(
        s"$what is not $article ${fam.name}-index manifest (keys " +
          s"${found.toSeq.sorted.mkString("/")}, expected " +
          s"${fam.keys.toSeq.sorted.mkString("/")}) — wrong directory or " +
          "damaged index")
    }
    val dirs = fam.dirKeys.map { case (k, adoptName) =>
      val ds = node.get(k).elements().asScala.map(_.asText()).toSeq
      if (ds.isEmpty)
        throw new IllegalStateException(
          s"$what references no $adoptName dirs — truncated or damaged " +
            "manifest")
      k -> ds
    }.toMap
    Layout(g, dirs, readTDirs(node, what),
      fam.metaKey.map(node.get(_).asText()), metaVals(node))
  }

  /** Decode a manifest's OPTIONAL `tdirs` node. Absent = a
    * pre-retraction manifest, tombstone-free by construction; a
    * PRESENT node decoding to nothing (empty array, or a scalar whose
    * elements() iterator is empty) is DAMAGE — unrepresentable from the
    * committer — and reading it as tombstone-free would silently
    * RESURRECT retracted content, strictly worse than a crash.
    */
  private def readTDirs(node: JsonNode, what: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val t = Option(node.get("tdirs"))
      .map(_.elements().asScala.map(_.asText()).toSeq)
    if (t.exists(_.isEmpty))
      throw new IllegalStateException(
        s"$what carries an empty/scalar tdirs node — damaged manifest; " +
          "reading it as tombstone-free would resurrect retracted content")
    t.getOrElse(Nil)
  }

  /** Integer meta/config fields carried IN the manifest (the serve-path
    * fusion): a serve already reads the manifest driver-side to resolve
    * the layout, so carrying the index geometry/stats in the SAME node
    * removes the 1-row meta/stats parquet read — one whole Spark job —
    * from every serve. The parquet meta table stays the at-rest source
    * of truth and the fallback for manifests written before these
    * fields existed AND for adopted gen-0 indexes with no manifest at
    * all. A PRESENT-but-malformed node fails loudly (the readTDirs
    * damage rule): silently falling back to a parquet meta that a later
    * commit may have rolled past would serve a stale geometry.
    */
  private def metaVals(node: JsonNode): Option[Map[String, Long]] =
    Option(node.get("metaVals")).map { m =>
      import scala.jdk.CollectionConverters._
      if (!m.isObject)
        throw new IllegalStateException(
          "manifest metaVals node is not an object — damaged manifest")
      scala.collection.immutable.ListMap.from(m.properties().asScala.iterator
        .map(e => e.getKey -> e.getValue.asLong()))
    }

  /** Commit `lay` as generation `lay.seq` of `fam`'s index, then sweep
    * what it superseded. Keys are written in the family's order (dir
    * lists, `tdirs` when non-empty, the meta key, `metaVals` when
    * present), so the bytes match every earlier writer of the format.
    * The node is staged to a dot-temp and renamed onto the numbered
    * manifest — the atomic commit point. Fails loudly if the destination
    * already exists (single-writer contract violated) or the rename is
    * refused; the orphaned data dir of an aborted commit is overwritten
    * by the next attempt at this generation.
    */
  def commit(spark: SparkSession, dir: String, fam: Family,
      lay: Layout): Unit = {
    require(lay.dirs.keySet == fam.dirKeys.map(_._1).toSet &&
        lay.dirs.values.forall(_.nonEmpty) &&
        lay.metaDir.isDefined == fam.metaKey.isDefined &&
        (fam.tombstones || lay.tDirs.isEmpty),
      s"layout $lay does not fit the ${fam.name}-index manifest")
    val node = new ObjectMapper().createObjectNode()
    fam.dirKeys.foreach { case (k, _) =>
      val a = node.putArray(k); lay(k).foreach(a.add)
    }
    if (lay.tDirs.nonEmpty) {
      val a = node.putArray("tdirs"); lay.tDirs.foreach(a.add)
    }
    fam.metaKey.foreach(node.put(_, lay.meta))
    lay.metaVals.foreach { mv =>
      val m = node.putObject("metaVals")
      mv.foreach { case (k, v) => m.put(k, v) }
    }
    val (fs, root) = fsRoot(spark, dir)
    // Destination check BEFORE staging: strictly cheaper, shrinks the
    // race window, and the abort path leaves no orphan dot-temp behind
    // (the aborted pipeline won't run the sweep that would collect it).
    val dst = new Path(root, manifestName(lay.seq))
    if (fs.exists(dst))
      throw new IllegalStateException(
        s"manifest commit failed: $dst already exists — concurrent " +
          "writer? (appends/compactions are single-writer)")
    val tmp = new Path(root,
      s".manifest-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, false)
    try out.write(new ObjectMapper().writeValueAsBytes(node))
    finally out.close()
    if (!fs.rename(tmp, dst)) {
      try fs.delete(tmp, false)
      catch { case scala.util.control.NonFatal(_) => () }
      throw new IllegalStateException(
        s"manifest commit failed: rename $tmp -> $dst")
    }
    sweep(spark, dir, fam, lay.seq)
  }

  /** Grace-window sweep at generation `current`: deletes manifests older
    * than `current - 1`, crashed dot-temp stages, and every name the
    * family's `dataDir` admits that neither the current nor the
    * predecessor generation references. Retaining the predecessor gives
    * an in-flight reader of the previous generation one further commit
    * of grace (the IncrementalTrend RetainedGenerations=2 policy).
    *
    * BEST-EFFORT: runs after the commit is durable — a failure here
    * (including a referenced-set read that fails, which skips the sweep
    * and leaves the index correct) must never surface as an operation
    * failure, because the natural caller response (retry the append)
    * would encode the SAME delta under a new generation and duplicate
    * every row. Leftovers are unreferenced and the next commit's sweep
    * collects them. Idempotent; safe to run standalone (e.g. a no-op
    * compaction still sweeping old garbage).
    */
  def sweep(spark: SparkSession, dir: String, fam: Family,
      current: Long): Unit =
    try {
      val (fs, root) = fsRoot(spark, dir)
      val referenced = Seq(current - 1, current).filter(_ >= 0)
        .flatMap(g => layoutAt(fs, root, fam, g).referenced).toSet
      fs.listStatus(root).foreach { st =>
        st.getPath.getName match {
          case ManifestRe(d) if d.toLong < current - 1 =>
            fs.delete(st.getPath, false)
          case n if n.startsWith(".manifest-") =>
            fs.delete(st.getPath, false)
          case n if fam.dataDir.matches(n) && !referenced.contains(n) =>
            fs.delete(st.getPath, true)
          case _ => ()
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] generation sweep at $dir (gen $current) failed " +
            s"(commit already durable; index remains correct; next " +
            s"commit re-collects): ${e.getMessage}")
    }

  // ---- retraction kernels (the key-tombstone families' ONE liveness
  // definition; ExactDedupIndex keeps its hash-keyed resolveMembers,
  // which aggregates per hash rather than per row) ---------------------

  /** The generation number a data dir's rows belong to — encoded in the
    * dir name (an unsuffixed build dir is generation 0; "-<seq>" names
    * carry their commit's seq). Manifest seqs are allocated once each,
    * so insert rows and a tombstone for one key can never tie; a
    * compact fold re-stamps surviving rows at its own (higher) seq
    * AFTER purging tombstones, which preserves the newest-op-wins
    * order.
    */
  def genOf(dirName: String): Long =
    dirName.lastIndexOf('-') match {
      case -1 => 0L
      case i  => dirName.substring(i + 1).toLong
    }

  /** Generation read with the generation number attached as `__g`.
    * Scratch-name guard (the Skew.requireScratchFree convention): a
    * generation table that ever grows a `__g` column would be silently
    * REPLACED by withColumn and the liveness filter would consume the
    * wrong values.
    */
  def readWithGen(spark: SparkSession, dir: String,
      dirs: Seq[String]): DataFrame =
    dirs.map { d =>
      val t = spark.read.parquet(s"$dir/$d")
      Skew.requireScratchFree(t, Seq("__g"),
        "generation read (retraction scratch)")
      t.withColumn("__g", lit(genOf(d)))
    }.reduce(_.unionByName(_))

  /** Per-key newest tombstone generation `(keyCol, __tg)` — takedown-
    * sized by contract (compact folds it away), hence broadcast at
    * every use.
    */
  def tombMax(spark: SparkSession, dir: String, tDirs: Seq[String],
      keyCol: String): DataFrame =
    readWithGen(spark, dir, tDirs)
      .groupBy(col(keyCol)).agg(max(col("__g")).as("__tg"))

  /** Liveness filter over generation rows carrying `__g`: a key's row
    * is live iff its insert generation outlives the key's newest
    * tombstone (re-ingest after takedown restores membership). `tm` is
    * the [[tombMax]] table for the SAME `keyCol`.
    */
  def liveRows(rows: DataFrame, keyCol: String, tm: DataFrame): DataFrame = {
    Skew.requireScratchFree(rows, Seq("__tid", "__tg"),
      "liveness resolution (retraction scratch)")
    rows.join(broadcast(tm.withColumnRenamed(keyCol, "__tid")),
        col(keyCol) === col("__tid"), "left")
      .filter(col("__tg").isNull || col("__g") > col("__tg"))
      .drop("__tid", "__tg", "__g")
  }

  /** The cross-generation union read every family's consumers share —
    * ONE place for any future per-generation schema handling, now for
    * EVERY family at once (each had its own verbatim copy).
    */
  def readGenerations(spark: SparkSession, dir: String,
      dirs: Seq[String]): DataFrame =
    dirs.map(d => spark.read.parquet(s"$dir/$d")).reduce(_.unionByName(_))

  /** The ONE liveness fold for a doc-/key-keyed tombstone family: a
    * bare generation read when tombstone-free (the common case — plan
    * unchanged), the newest-op-wins resolution otherwise. Family
    * wrappers delegate here so the fold can never drift between the
    * dedup and media families (it was a hand-synced pair).
    */
  def foldedLive(spark: SparkSession, dir: String, dirs: Seq[String],
      tDirs: Seq[String], keyCol: String): DataFrame =
    if (tDirs.isEmpty) readGenerations(spark, dir, dirs)
    else liveRows(readWithGen(spark, dir, dirs), keyCol,
      tombMax(spark, dir, tDirs, keyCol))

  /** The partition-pruned read with retraction applied — the serve-path
    * kernel: the literal `IN` filter is applied BEFORE the liveness
    * join so every generation scan still prunes (plan-locked per
    * family); the tombstone-free index takes the bare pruned read and
    * its plan is unchanged.
    */
  def readPrunedLive(spark: SparkSession, dir: String, dirs: Seq[String],
      partCol: String, keys: Seq[Long], tDirs: Seq[String],
      keyCol: String, tm: Option[DataFrame] = None): DataFrame =
    if (tDirs.isEmpty)
      readGenerations(spark, dir, dirs).filter(col(partCol).isin(keys: _*))
    else liveRows(
      readWithGen(spark, dir, dirs).filter(col(partCol).isin(keys: _*)),
      // A serve with SEVERAL pruned reads passes its one materialized
      // tombMax (r18 fusion) instead of rebuilding + re-broadcasting
      // the takedown table per read.
      keyCol, tm.getOrElse(tombMax(spark, dir, tDirs, keyCol)))

  /** Liveness CLASSIFICATION over rows carrying a generation column —
    * the newest-insert-outlives-newest-tombstone rule as an appended
    * `__live` flag instead of [[liveRows]]' filter, for the reports
    * that must SEE dead rows ([[takedownCensus]], the ANN
    * takedown-health's per-cell split). `genCol` names the insert-
    * generation column ("__g" for raw [[readWithGen]] rows, a per-key
    * max for pre-folded frames); `tm` is the [[tombMax]] table for the
    * SAME `keyCol`, broadcast here like every takedown-sized join.
    */
  def classifyLiveness(rows: DataFrame, keyCol: String, genCol: String,
      tm: DataFrame): DataFrame = {
    Skew.requireScratchFree(rows, Seq("__tid", "__tg", "__live"),
      "liveness classification (retraction scratch)")
    rows.join(broadcast(tm.withColumnRenamed(keyCol, "__tid")),
        col(keyCol) === col("__tid"), "left")
      .withColumn("__live",
        col("__tg").isNull || col(genCol) > col("__tg"))
      .drop("__tid", "__tg")
  }

  /** Takedown-pressure census over the at-rest keys of `fam`'s
    * `dirKey` tables — ONE row (`liveName`, `deadName`, dead_ppm): how many distinct keys
    * are live vs tombstoned (dead keys still occupy files and inflate
    * every scan until the family's compact purges them), with the dead
    * share in exact integer parts-per-million. The key-level liveness
    * rule is the same newest-insert-outlives-newest-tombstone
    * resolution [[liveRows]] applies per row — here folded per KEY
    * (max insert generation vs the key's newest tombstone), the
    * StatsIndex `neg_cells` analog for the doc-/hash-keyed families.
    * Tombstone-free indexes report all-live with zero extra work (no
    * join is planned at all).
    */
  def takedownCensus(spark: SparkSession, dir: String, fam: Family,
      dirKey: String, keyCol: String, liveName: String,
      deadName: String): DataFrame = {
    val lay = layout(spark, dir, fam)
    // The output names never reach SQL text: the arithmetic runs over
    // FIXED internal names and the caller's names attach by rename — a
    // name needing quoting (or spelling an expression) can't silently
    // change the census arithmetic. Scratch guard like every __-kernel.
    require(!liveName.startsWith("__") && !deadName.startsWith("__") &&
        liveName != deadName &&
        liveName != "dead_ppm" && deadName != "dead_ppm",
      s"takedownCensus output names collide with kernel scratch or the " +
        s"fixed dead_ppm column: ($liveName, $deadName)")
    val perKey = readWithGen(spark, dir, lay(dirKey))
      .groupBy(col(keyCol)).agg(max(col("__g")).as("__mg"))
    val classified =
      if (lay.tDirs.isEmpty) perKey.withColumn("__live", lit(true))
      else classifyLiveness(perKey, keyCol, "__mg",
        tombMax(spark, dir, lay.tDirs, keyCol))
    classified.agg(
        coalesce(sum(when(col("__live"), lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("__lv"),
        coalesce(sum(when(col("__live"), lit(0L)).otherwise(lit(1L))),
          lit(0L)).as("__dd"))
      .selectExpr("__lv", "__dd",
        // Every family's build refuses an empty index, so the zero-total
        // arm is defensive (ANSI would otherwise raise DIVIDE_BY_ZERO
        // on a damaged dir instead of reporting).
        "CAST(CASE WHEN __lv + __dd = 0 THEN 0 " +
          "ELSE (__dd * 1000000) DIV (__lv + __dd) " +
          "END AS BIGINT) AS dead_ppm")
      .withColumnRenamed("__lv", liveName)
      .withColumnRenamed("__dd", deadName)
  }

  // ---- lifecycle skeletons (append / retract / compact / sync) -------
  //
  // Each family's op is one of these plus what the family alone knows:
  // its row encoding, partition column, integer meta and membership
  // probe. Where families differ by policy (Lex and ANN refuse a
  // takedown that would empty the index; Stats retracts by negated
  // sums; Exact's sync is hash-keyed and resumable), the difference
  // lives in the family's hook, not here.

  /** Write `rows` as the generation dir `dir/name`, parquet-partitioned
    * by `partCol` (one file set per partition value).
    */
  def writeParts(rows: DataFrame, partCol: String, dir: String,
      name: String): Unit =
    rows.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(s"$dir/$name")

  /** APPEND: `write` writes the delta's dirs for generation `lay.seq + 1`
    * and returns the layout to commit — or None when the delta held
    * nothing, which commits nothing: a 0-row generation dir is
    * schema-less and would poison every later read (the ANN empty-delta
    * lesson). Tombstones carry over: a re-ingested key's new generation
    * outlives its older tombstone, so the append alone restores its
    * membership (newest-op-wins). SINGLE-WRITER.
    */
  def append(spark: SparkSession, dir: String, fam: Family)(
      write: Layout => Option[Layout]): Unit =
    write(layout(spark, dir, fam)) match {
      case Some(next) => commit(spark, dir, fam, next)
      case None => System.err.println(s"[graft] ${fam.name}-index append " +
        s"of an EMPTY delta to $dir skipped (no commit)")
    }

  /** RETRACT for the key-tombstone families (dedup, media, lex, ANN):
    * the takedown keys become ONE tombstone generation under one atomic
    * commit. Liveness then resolves per key as "newest insert
    * generation outlives newest tombstone", so every serve, streaming
    * twin and census stops seeing a key the moment the manifest
    * renames, and a LATER append of the vacant key restores it.
    *
    * The distinct non-null keys are BARRIERED, not cached: the family's
    * membership check and the WRITTEN tombstone rows must derive from
    * one materialized set (a persist can re-evaluate from lineage and
    * commit a key that never passed the check). An empty set commits
    * nothing. `checked` runs the family's OVER-RETRACTION guard — every
    * key must be currently live; retracting a never-ingested or
    * already-retracted key is a caller bug, not a no-op — plus any
    * guard of its own, writes whatever else the generation carries, and
    * returns the layout to commit. The tombstone rows land in
    * `tombDir`, partitioned when `tombPart` names a column. The
    * tombstone table is takedown-sized by contract (broadcast at every
    * serve; compact regularly under sustained takedowns), and the
    * family's compact physically purges tombstoned rows. SINGLE-WRITER.
    */
  def retract(spark: SparkSession, dir: String, fam: Family,
      takedown: DataFrame, key: String, tombDir: String,
      tombPart: Option[(String, Column)] = None)(
      checked: DataFrame => Layout): Unit = {
    val h = takedown.where(col(key).isNotNull).select(col(key)).distinct()
      .barrier()
    try {
      if (h.isEmpty)
        System.err.println(s"[graft] ${fam.name}-index retraction of an " +
          s"EMPTY set at $dir skipped (no commit)")
      else {
        val next = checked(h)
        tombPart match {
          case Some((c, e)) => writeParts(h.withColumn(c, e), c, dir, tombDir)
          case None => h.write.mode("overwrite").parquet(s"$dir/$tombDir")
        }
        commit(spark, dir, fam, next)
      }
    } finally Barrier.release(h)
  }

  /** The over-retraction guard over insert rows: `ins` carries the
    * takedown keys' insert rows with `__g` (read over whatever slivers
    * the family can prune to), and every key of `h` must have a live
    * one.
    */
  def requireLive(spark: SparkSession, dir: String, lay: Layout,
      h: DataFrame, ins: DataFrame, key: String, op: String,
      noun: String): Unit = {
    val live = (if (lay.tDirs.isEmpty) ins
      else liveRows(ins, key, tombMax(spark, dir, lay.tDirs, key)))
      .select(col(key)).distinct()
    val nonMembers = h.join(live, Seq(key), "left_anti").count()
    require(nonMembers == 0L,
      s"$op at $dir: $nonMembers of the takedown ids are not currently " +
        "live (never ingested, or already retracted) — a takedown of " +
        s"absent $noun is a caller bug, not a no-op")
  }

  /** COMPACT: fold every live generation back into one dir per key and
    * commit with the same atomic rename appends use — the maintenance
    * pass that restores the single-scan-per-table plan an append
    * history erodes (each generation is its own parquet source in a
    * serve plan). An index of one generation per key and no tombstones
    * has nothing to fold, but the sweep still runs: garbage a
    * previously failed best-effort sweep left would otherwise live on.
    * `fold` writes the folded dirs for generation `lay.seq + 1` and
    * returns the layout to commit. SINGLE-WRITER, like append.
    */
  def compact(spark: SparkSession, dir: String, fam: Family)(
      fold: Layout => Layout): Unit = {
    val lay = layout(spark, dir, fam)
    if (lay.dirs.values.forall(_.length <= 1) && lay.tDirs.isEmpty)
      sweep(spark, dir, fam, lay.seq)
    else commit(spark, dir, fam, fold(lay))
  }

  /** The compact fold of one key-tombstone dir list into `dir/to`,
    * partitioned by `partCol`. Tombstone-free rows rewrite VERBATIM
    * (the partition column rides the read; no hash is recomputed, so
    * serve-after-compact is bit-identical to serve-before) as ONE
    * read-to-write pipeline — barriering the whole index would
    * checkpoint it into executor storage for nothing. With tombstones
    * the fold keeps only LIVE rows (physically purging taken-down keys)
    * and the emptiness probe and the write share ONE materialization
    * (validate-before-write): a fully-retracted fold is unrepresentable
    * — a partitioned write of an empty frame leaves a schema-less dir
    * that poisons every later read — so it fails with `emptied`.
    */
  def foldLive(spark: SparkSession, dir: String, lay: Layout,
      dirKey: String, key: String, partCol: String, to: String,
      emptied: => String): Unit =
    if (lay.tDirs.isEmpty)
      writeParts(readGenerations(spark, dir, lay(dirKey)), partCol, dir, to)
    else {
      val f = foldedLive(spark, dir, lay(dirKey), lay.tDirs, key).barrier()
      try {
        require(f.count() > 0L, emptied)
        writeParts(f, partCol, dir, to)
      } finally Barrier.release(f)
    }

  /** INCREMENTAL CORPUS SYNC: apply a v1 → v2 snapshot transition to an
    * index holding v1's ingested membership, so serves afterwards equal
    * a build over v2 EXACTLY. [[Curation.corpusDiffBy]] classifies each
    * `key` by `identity` (evaluated per snapshot row, non-null); the
    * removed + changed keys go to `retract`, then v2's added + changed
    * rows go to `append`. A changed key's old generation dies with its
    * tombstone while the re-ingest outlives it (newest-op-wins), so
    * re-ingest under the same key is exactly the update semantics;
    * `unchanged` keys are never touched, re-hashed or re-shuffled.
    *
    * `ingested` = (content column, predicate) intersects the retract
    * leg with v1's INGESTED membership (e.g. docs with at least one
    * token): `retract` then receives the (key, content) rows of v1 that
    * satisfy it — so a never-ingested key is not retracted and the
    * family's over-retraction guard stays a real guard (it still throws
    * if the index does not hold v1: wrong v1 frame, or a sync already
    * applied). The predicate runs on a BARRIERED transition-sized
    * sliver: unbarriered, Catalyst would push a deterministic filter
    * below the semi join onto the full v1 scan. Without `ingested`,
    * `retract` receives the bare removed + changed keys.
    *
    * TORN-SYNC RECOVERY: two atomic commits (retract, then append). A
    * crash between them leaves membership at v1 ∖ (removed ∪ changed);
    * recover by applying the append leg alone — the family's append of
    * v2 ⋉ (added ∪ changed keys) — or rebuild. Re-running the whole sync
    * trips the over-retraction guard on the already-tombstoned keys: a
    * key-tombstone guard cannot tell a torn sync from a wrong v1 frame
    * (the hash-keyed [[ExactDedupIndex.syncIndex]] can, and resumes).
    *
    * 100 TB shape: the diff's hash-only full-outer join runs ONCE (the
    * transition set barriers — broadcast-sized by contract, like every
    * takedown table); each leg broadcast-semi-joins its transition-sized
    * key set against a snapshot scan, so tokenizing or hashing only
    * ever touches transition rows. At most two commits; an unchanged
    * corpus is a complete no-op. Both snapshot frames must be
    * deterministic under re-evaluation (source scans). SINGLE-WRITER.
    */
  def sync(v1: DataFrame, v2: DataFrame, identity: Column,
      key: String = "doc_id", ingested: Option[(String, Column)] = None)(
      retract: DataFrame => Unit, append: DataFrame => Unit): Unit = {
    def keyed(d: DataFrame) =
      d.select(col(key).as("doc_id"), identity.as("__ident"))
    val transitions =
      Curation.corpusDiffBy(keyed(v1), keyed(v2), col("__ident"))
        .where(col("status") =!= "unchanged")
        .select(col("doc_id").as(key), col("status"))
        .barrier()
    def keysOf(statuses: String*) =
      transitions.filter(col("status").isin(statuses: _*)).select(col(key))
    try {
      val gone = keysOf("removed", "changed")
      ingested match {
        case None => retract(gone)
        case Some((content, member)) =>
          val sliver = v1.where(col(key).isNotNull)
            .select(col(key), col(content))
            .join(broadcast(gone), Seq(key), "left_semi")
            .barrier()
          try retract(sliver.where(member)) finally Barrier.release(sliver)
      }
      append(v2.join(broadcast(keysOf("added", "changed")), Seq(key),
        "left_semi"))
    } finally Barrier.release(transitions)
  }
}
