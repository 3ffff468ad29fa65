package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.RecentChange
import graft.sources.EventAdapter

/** `EventAdapter.decodeWire` parses each message once and runs its four
  * `log_params` form probes only when they can be non-null. This spec
  * pins it, row for row, to the five-parse decode it replaced, kept here
  * as the reference: the log_params variants, malformed messages, and
  * wrong-typed fields with partial results on and off.
  */
class DecodeWireSpec extends SparkSpec {
  import spark.implicits._

  /** The five-parse decode: the wire struct plus four unguarded
    * single-field parses of log_params, one per wire form. Its `ts` uses
    * `try_to_timestamp` like the decode under test (see the malformed
    * `meta.dt` test below).
    */
  private def referenceDecode(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType,
      MapType, StringType, StructField, StructType}
    def only(t: org.apache.spark.sql.types.DataType) =
      StructType(Seq(StructField("log_params", t)))
    raw
      .select(from_json(col("value"), RecentChange.wireSchema).as("e"),
        from_json(col("value"), only(MapType(StringType, StringType))).getField("log_params").as("lpm"),
        from_json(col("value"), only(ArrayType(StringType))).getField("log_params").as("lpa"),
        from_json(col("value"), only(DoubleType)).getField("log_params").as("lpd"),
        from_json(col("value"), only(BooleanType)).getField("log_params").as("lpb"))
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
        try_to_timestamp(col("e.meta.dt")).as("ts"))
  }

  /** The messages as a `graft-sse` log, read the way the stream reads it. */
  private def viaSource(msgs: Seq[String]): DataFrame = {
    val f = Files.createTempFile("decode-wire", ".jsonl")
    Files.writeString(f, msgs.map(_ + "\n").mkString)
    spark.read.format("graft-sse").option("path", f.toString).load()
  }

  private def assertAgree(raw: DataFrame, what: String): Unit =
    for (partial <- Seq("true", "false")) {
      spark.conf.set("spark.sql.json.enablePartialResults", partial)
      try {
        val got = EventAdapter.decodeWire(raw).collect().toSeq
        val want = referenceDecode(raw).collect().toSeq
        assert(got.length == want.length, s"$what (partial results $partial)")
        for (((g, w), i) <- got.zip(want).zipWithIndex)
          assert(g == w, s"$what, row $i (partial results $partial)")
      } finally spark.conf.unset("spark.sql.json.enablePartialResults")
    }

  /** The 13 log_params forms of the delete-gate parity test, plus nested
    * values, on an otherwise well-formed delete log event.
    */
  private val logParamsCases: Seq[String] = {
    def wireDelete(lp: Option[String]): String = {
      val lpField = lp.map(v => s""""log_params":$v,""").getOrElse("")
      s"""{"title":"Src","comment":"x","namespace":0,"user":"Admin",""" +
        s""""bot":false,"type":"log","length":{"old":0,"new":0},""" +
        s""""wiki":"enwiki","server_name":"en.wikipedia.org",""" +
        s""""log_type":"delete","log_action":"delete",$lpField""" +
        s""""log_action_comment":"deleted &quot;[[Target]]&quot;",""" +
        s""""meta":{"dt":"2024-01-01T00:00:00Z"}}"""
    }
    (Seq(None, Some("null"), Some("{}"), Some("""{"target":"x","count":"1"}"""),
      Some("""{"length":"2"}"""), Some("""{"length":""}"""), Some("[]"),
      Some("""["0","1"]"""), Some("\"\""), Some("\"legacy text\""), Some("5"),
      Some("true"), Some("\"5\"")) ++
      Seq(Some("""{"target":{"nested":[1,2]}}"""), Some("""["0",1,{"a":2}]"""),
        Some("2.5"), Some("false"))).map(wireDelete)
  }

  test("log_params forms: absent, null, object, array, string, number and boolean decode as before") {
    assertAgree(viaSource(logParamsCases), "log_params cases")
  }

  test("malformed messages and wrong-typed fields decode as before, with partial results on and off") {
    val ok = """"meta":{"dt":"2024-01-01T00:00:00Z"}"""
    val msgs = Seq(
      "not json", "", "{", "{}", "null", "5", "[]",
      """[{"title":"A","log_params":{"a":"b"}}]""",
      s"""{"title":"A","namespace":"zero","log_params":{"a":"b"},$ok}""",
      s"""{"title":"B","namespace":{"x":1},"log_params":[1,2],$ok}""",
      s"""{"title":"C","bot":"yes","log_params":5,$ok}""",
      s"""{"title":"D","length":{"old":"x"},"log_params":true,$ok}""",
      s"""{"title":"E","length":5,"log_params":"text",$ok}""",
      // A wrong-typed struct field fails the whole main parse without
      // partial results, while a log_params probe still succeeds.
      """{"title":"F","log_params":{"a":"b"},"meta":"str"}""",
      """{"title":"G","log_params":["x"],"meta":{"dt":5}}""",
      """{"title":"H","log_params":7,"meta":"str"}""",
      """{"title":"I","log_params":{"a":"b"},"meta":{"dt":"2024-01-01T00:00:00Z"},"namespace":12345678901234567890}""",
      // Duplicate keys: the last occurrence wins in every parse.
      s"""{"title":"J","log_params":{"a":"b"},"log_params":null,$ok}""",
      s"""{"title":"K","log_params":null,"log_params":["y"],$ok}""",
      s"""{"title":5,"comment":{"c":1},"user":[1],$ok}""",
      s"""{"title":"L","log_params":{"a":"b"},$ok""") // truncated
    assertAgree(viaSource(msgs), "malformed messages")
    // A null value (not producible by the log source) decodes as before.
    assertAgree(Seq[String](msgs(8), null, logParamsCases(2)).toDF("value"), "null value")
  }

  test("a seeded 10k-message mix of present, absent, null and wrong-typed fields decodes as before") {
    val r = new scala.util.Random(8)
    def pick(xs: String*): String = xs(r.nextInt(xs.length))
    val fields: Seq[(String, () => String)] = Seq(
      "title" -> (() => pick(s""""T${r.nextInt(50)}"""", "5", "null", "{}")),
      "comment" -> (() => pick("\"x\"", "\"Fixed error\"", "\"Reverted edit\"", "\"é日本\"", "null", "[1]")),
      "namespace" -> (() => pick("0", "0", "1", "\"0\"", "null", "{}", "1.5")),
      "user" -> (() => pick("\"Ann\"", "\"10.0.0.1\"", "null", "7")),
      "bot" -> (() => pick("true", "false", "\"yes\"", "null", "1")),
      "type" -> (() => pick("\"edit\"", "\"new\"", "\"log\"", "null")),
      "length" -> (() => pick("""{"old":1,"new":5}""", """{"old":"x"}""", "5", "null", "{}")),
      "wiki" -> (() => pick("\"enwiki\"", "\"dewiki\"", "null")),
      "server_name" -> (() => pick("\"en.wikipedia.org\"", "null", "3")),
      "log_type" -> (() => pick("\"delete\"", "\"move\"", "\"\"", "null")),
      "log_action" -> (() => pick("\"delete\"", "\"move\"", "null")),
      "log_params" -> (() => pick("{}", """{"length":"2"}""", """{"target":"B","n":{"x":1}}""",
        "[]", """["0",1,{"a":2}]""", "\"\"", "\"text\"", "5", "2.5", "true", "false", "null")),
      "log_action_comment" -> (() => pick("\"deleted [[T1]]\"", "null", "{}")),
      "meta" -> (() => pick("""{"dt":"2024-01-01T00:00:00Z"}""", """{"dt":5}""", "\"str\"", "null", "{}")))
    val msgs = Seq.fill(10000) {
      val body = fields.filter(_ => r.nextInt(10) < 8)
        .map { case (k, v) => s""""$k":${v()}""" }.mkString("{", ",", "}")
      r.nextInt(100) match {
        case 0 => body.take(r.nextInt(body.length)) // torn message
        case 1 => "not json"
        case _ => body
      }
    }
    assertAgree(viaSource(msgs), "seeded mix")
  }

  test("a malformed meta.dt decodes to a null ts, which classify drops, instead of failing the query") {
    val ok = """{"title":"Ok","namespace":0,"server_name":"en.wikipedia.org","meta":{"dt":"2024-01-01T00:00:00Z"}}"""
    val msgs = Seq(ok,
      """{"title":"Num","namespace":0,"meta":{"dt":5}}""",
      """{"title":"Text","namespace":0,"meta":{"dt":"yesterday"}}""")
    val decoded = EventAdapter.decodeWire(viaSource(msgs))
    assert(decoded.select("title", "ts").collect().map(r => r.getString(0) -> r.isNullAt(1)).toSeq ==
      Seq("Ok" -> false, "Num" -> true, "Text" -> true))
    val classified = graft.streaming.TrendStream.classify(
      decoded.as[RecentChange], graft.model.TrendConfig(project = "*")).collect()
    assert(classified.map(_.title).toSeq == Seq("Ok"))
  }
}
