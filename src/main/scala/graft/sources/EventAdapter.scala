package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adapts the driver's generic `events` table (event_id, ts, user_id,
  * event_type, value, props) onto the engine's RecentChange input schema so
  * the full trend pipeline — filters, classifiers, keyed aggregation,
  * metrics, eviction — runs end-to-end on driver data and stays
  * DuckDB-oracle-expressible.
  *
  * The mapping is deterministic and documented here because every oracle
  * SQL for a trend query re-states it in ANSI SQL:
  *   - page     := user_id DIV 4 (users 4k..4k+3 share one page, so every
  *                 page has up to four distinct editors — a degenerate
  *                 one-editor-per-page mapping would make the
  *                 distribution/bias/contributor oracles vacuous: bias
  *                 identically 1.0 verifies nothing about the ratio path)
  *   - wiki     := 'enwiki' (so id = title, the reference's special case)
  *   - user     := 'u<user_id>', except every 5th user is an IPv4 literal
  *                 ('<user_id>.0.0.1') so the isIP classifier fires
  *   - bot      := user_id % 11 = 0
  *   - comment  := a per-event_type phrase chosen to exercise the
  *                 reference's keyword classifiers:
  *                   error    → 'Reverted edit'       (revert keyword)
  *                   view     → 'copyedit current event' (notability)
  *                   signup   → 'new page created'
  *                   purchase → 'added new content'
  *                   click    → 'nominated for deletion' (volatility)
  *   - rcType   := 'new' for signup events of users with user_id % 13 = 0,
  *                 else 'edit' — the mod keeps per-page BOOL_OR(isNew)
  *                 genuinely split (12/38 pages at sf0.01); signup alone
  *                 fires on every page, which would verify a constant
  *   - delta    := floor(value * 100) (bytes changed)
  */
object EventAdapter {

  /** Schema-adaptive `ts` read. Generator vintages differ: some write
    * `ts` as parquet TIMESTAMP(NANOS) (which Spark 4 rejects by default —
    * read nanos as Long via `nanosAsLong` and truncate to µs with integer
    * division, the same truncation DuckDB applies when it reads that file
    * as µs TIMESTAMP), others write plain µs TIMESTAMP (which both engines
    * read identically — no conversion). Branching on the READ schema keeps
    * one code path per vintage and the oracle exact in both. (A
    * double-precision nanos path would lose ~256 ns at 2024 epoch
    * magnitudes; DIV stays exact.)
    *
    * NOTE: `nanosAsLong` is a SESSION conf, not a per-read option (the
    * parquet datasource exposes no such option), so this set is sticky —
    * any later TIMESTAMP(NANOS) parquet read in the session also gets
    * longs. Acceptable here: every nanos file in this project wants that
    * treatment, and the flag is a no-op for µs/ms timestamp files.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Magnitude guard on the nanos assumption: epoch-NANOS exceeds
        // 1e17 for any date past mid-1973, while epoch-MICROS stays below
        // 1e17 until year ~5138 — so a future generator vintage writing
        // unannotated INT64 micros (also read as Long) fails loudly here
        // instead of being silently divided 1000× toward 1970. That
        // silent misparse is the round-7 vanish lesson applied to the
        // read side: the hash compare would catch it at Verify, but a
        // bench run has no compare and would report wrong-window trend
        // timings without a whisper.
        val nanos = col("ts")
        val guarded = when(nanos.isNull, lit(null).cast("long"))
          .when(nanos >= 100000000000000000L, expr("ts DIV 1000"))
          .otherwise(raise_error(concat(
            lit("events.ts Long value "), nanos.cast("string"),
            lit(" is too small for epoch-nanos — unrecognized generator" +
              " vintage (unannotated micros?)"))))
        raw.withColumn("ts", timestamp_micros(guarded))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Plain µs TIMESTAMP without tz annotation. Normalize to the LTZ
        // TimestampType every downstream operator expects (NTZ rejects
        // numeric casts); under the UTC session both Verify and Bench pin,
        // the epoch values are identical to DuckDB's naive epoch_us read.
        // The cast consults the SESSION timezone, so a non-UTC session
        // (a consumer's REPL on a local-zone machine) would silently
        // shift every instant by the zone offset relative to both the
        // nanos vintage (timestamp_micros is tz-independent) and the
        // oracle — fail loudly instead; only THIS branch reinterprets
        // wall-clock values.
        // Check-then-act is atomic here, measured on 4.1.2: the cast's
        // zoneId resolves at ANALYSIS time (DataFrame construction —
        // exactly when this require runs), so flipping the session zone
        // after readEvents() does NOT shift an already-built frame's
        // values; only a frame REBUILT under the new zone would, and
        // that rebuild re-enters this require.
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "reading a TIMESTAMP_NTZ events vintage requires " +
            "spark.sql.session.timeZone=UTC (the NTZ->LTZ cast " +
            "reinterprets wall-clock values in the session zone)")
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType =>
        raw // already an LTZ timestamp — DuckDB reads it identically
      case other => throw new IllegalArgumentException(
        s"events.ts has unrecognized type $other — known vintages: " +
          "TIMESTAMP(NANOS) (Long under nanosAsLong), µs TIMESTAMP_NTZ, " +
          "µs TIMESTAMP (LTZ). A new vintage needs an explicit branch " +
          "here, not a silent pass-through.")
    }
  }

  def asRecentChanges(events: DataFrame): DataFrame =
    events.select(
      expr("CAST(user_id DIV 4 AS STRING)").as("title"),
      when(col("event_type") === "error", "Reverted edit")
        .when(col("event_type") === "view", "copyedit current event")
        .when(col("event_type") === "signup", "new page created")
        .when(col("event_type") === "purchase", "added new content")
        .otherwise("nominated for deletion").as("comment"), // click → volatility
      lit(0).as("namespace"),
      when(col("user_id") % 5 === 0,
          concat(col("user_id").cast("string"), lit(".0.0.1")))
        .otherwise(concat(lit("u"), col("user_id").cast("string"))).as("user"),
      (col("user_id") % 11 === 0).as("bot"),
      when(col("event_type") === "signup" && col("user_id") % 13 === 0, "new")
        .otherwise("edit").as("rcType"),
      lit(0L).as("lengthOld"),
      floor(col("value") * 100).cast("long").as("lengthNew"),
      lit("enwiki").as("wiki"),
      lit("en.wikipedia.org").as("serverName"),
      lit(null).cast("string").as("logType"),
      lit(null).cast("string").as("logAction"),
      lit(null).cast(graft.model.LogParams.ddl).as("logParams"),
      lit(null).cast("string").as("logActionComment"),
      col("ts").as("ts"))

  def recentChanges(spark: SparkSession, sfDir: String): DataFrame =
    asRecentChanges(readEvents(spark, sfDir))

  /** Decode raw SSE messages (the `graft-sse` source's `value` column) into
    * the RecentChange column layout: `from_json` with the Wikimedia wire
    * schema (snake_case, nested length struct) then flatten — the
    * reference's `JSON.parse` (index.js:313) as a Catalyst expression.
    *
    * Each message is parsed once. The parse runs inside a one-row
    * generator (`inline_outer` over a one-element array): Catalyst pushes no
    * predicate on a generated column below its `Generate`, so a
    * downstream filter on a decoded field (the trend stream's reference
    * gate) reads the parsed struct; pushed below a plain projection, the
    * filter would re-parse the message once per field it tests.
    */
  def decodeWire(raw: DataFrame): DataFrame = {
    import graft.model.RecentChange
    import org.apache.spark.sql.types.{ArrayType, MapType, StringType,
      StructField, StructType}
    // The log_params wire VARIANT (graft.model.LogParams): which form a
    // message carries is decided by the JSON token type — a per-form
    // from_json parse is non-null exactly when the token matches its
    // schema (object → map, array → array; measured on 4.1.2, incl.
    // `{}` / `[]` staying non-null and mixed-type array elements
    // raw-capturing as strings). The main parse's StringType field
    // raw-captures every form, so the string arm is "no OTHER form
    // parsed" — never text sniffing (a STRING value `"[]"` has
    // lpm = lpa = null and stays a string). Scalar NON-STRING forms
    // (number/boolean) are detected the same way — a DoubleType /
    // BooleanType single-field parse is non-null exactly for that
    // token type and does NOT coerce a string "5"/"true" (measured on
    // 4.1.2) — and normalize to the ABSENT variant (all arms null):
    // the raw capture would otherwise read number 5 as the string '5',
    // whose JS .length is 1 (gate CLOSED), where the reference's
    // `!params.length` on a number is !undefined = true (gate OPEN) —
    // exactly the one-row cmd-forgery parity class the A6 gate exists
    // for. Each probe re-parses the whole message (each measured close
    // to the main parse), so a probe runs only when it can be non-null:
    // when the main parse captured log_params, or when the main parse
    // hit an error. An error can end the main parse before it reaches
    // log_params (a wrong-typed nested field without partial results
    // stops the walk at the nested object's end) while a probe of the
    // same message still succeeds; the main parse's corrupt-record
    // column is non-null whenever it hit one. A message without
    // log_params (most of the feed) is parsed once.
    val mapOnly = StructType(Seq(
      StructField("log_params", MapType(StringType, StringType))))
    val arrOnly = StructType(Seq(
      StructField("log_params", ArrayType(StringType))))
    val dblOnly = StructType(Seq(
      StructField("log_params", org.apache.spark.sql.types.DoubleType)))
    val boolOnly = StructType(Seq(
      StructField("log_params", org.apache.spark.sql.types.BooleanType)))
    val corrupt = "_corrupt_record"
    val parsed = from_json(col("value"),
      RecentChange.wireSchema.add(corrupt, StringType),
      Map("columnNameOfCorruptRecord" -> corrupt))
    def probe(form: StructType) =
      when(col("e.log_params").isNotNull || col(s"e.$corrupt").isNotNull,
        from_json(col("value"), form).getField("log_params"))
    raw
      .select(inline_outer(array(struct(parsed.as("e"), col("value")))))
      .select(col("e"), probe(mapOnly).as("lpm"), probe(arrOnly).as("lpa"),
        probe(dblOnly).as("lpd"), probe(boolOnly).as("lpb"))
      .select(
        col("e.title").as("title"),
        col("e.comment").as("comment"),
        col("e.namespace").as("namespace"),
        col("e.user").as("user"),
        coalesce(col("e.bot"), lit(false)).as("bot"),
        col("e.type").as("rcType"),
        coalesce(col("e.length.old"), lit(0L)).as("lengthOld"),
        coalesce(col("e.length.new"), lit(0L)).as("lengthNew"),
        col("e.wiki").as("wiki"),
        col("e.server_name").as("serverName"),
        col("e.log_type").as("logType"),
        col("e.log_action").as("logAction"),
        struct(
          col("lpm").as("map"),
          col("lpa").as("arr"),
          when(col("lpm").isNull && col("lpa").isNull &&
              col("lpd").isNull && col("lpb").isNull,
            col("e.log_params"))
            .otherwise(lit(null).cast("string")).as("str")).as("logParams"),
        col("e.log_action_comment").as("logActionComment"),
        // try_: under ANSI mode (Spark 4's default) to_timestamp throws on
        // a malformed meta.dt, and one such message failed the whole
        // query. A null ts is dropped downstream like any null-ts event.
        try_to_timestamp(col("e.meta.dt")).as("ts"))
  }
}
