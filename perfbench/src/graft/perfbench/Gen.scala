package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every byte they produce is a function of the
  * seed and the item index, so the same seed gives the same inputs.
  */
object Gen {

  /** Zipf(s) over ranks 0 until n, sampled by binary search on the CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      lo
    }
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // ---- recentchange events ---------------------------------------------------

  /** Stream-time origin of every generated event (`meta.dt`). */
  val EpochMs: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  /** Key population of the recentchange stream: Zipf(1.1) over 20,000
    * pages and Zipf(1.0) over 5,000 users, one event per stream
    * millisecond. These, like the event mix below, are stand-ins chosen
    * for the benchmark, not measured from the live feed.
    */
  val Pages = 20000
  val PageZipfS = 1.1
  val Users = 5000

  val Plain = Seq("copyedit", "expand section", "fix typo", "add reference", "update infobox")
  val Reverts = Seq("Reverted edits by vandal", "Undid revision 1234", "rv per WP:BLP")
  val Notable = Seq("current event update", "ongoing event coverage", "eventtag added")
  val Volatile = Seq("nominated for deletion", "speedy deletion request", "restore afd template")

  /** Counts of each kind of event the generator emitted. */
  final class TrendTruth {
    var edits, news, bots, anons, reverts, fixups, talk, otherWiki = 0L
    var moves, protects, deletesOpen, deletesGated = 0L
    val logParamForms = Array(0L, 0L, 0L) // map, array, string
  }

  /** Wikimedia recentchange wire JSON, one event per index: Zipf page
    * skew, a bot/anon/revert/notability mix, fixup and talk-namespace
    * events the reference gate drops, a second wiki, and move, protect
    * and delete log events with `log_params` in map, array and string
    * form. A delete's gate is open only when its target page has not
    * been seen yet, so the keyed stream (which drops state on a delete)
    * and the batch aggregation (which ignores log events) must agree.
    */
  final class TrendEvents(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val pageZ = new Zipf(Pages, PageZipfS)
    private val userZ = new Zipf(Users, 1.0)
    private val seen = new java.util.BitSet(Pages * 2)
    val truth = new TrendTruth
    private var i = 0L

    private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

    def next(): String = {
      val ms = EpochMs + i
      i += 1
      val dt = java.time.Instant.ofEpochMilli(ms).toString
      val de = rnd.nextInt(10) == 0
      val (wiki, server) = if (de) ("dewiki", "de.wikipedia.org") else ("enwiki", "en.wikipedia.org")
      val page = pageZ.sample(rnd)
      val title = s"Page_$page"
      val kind = rnd.nextInt(100)
      if (kind < 3) logEvent(kind, wiki, server, title, dt)
      else {
        seen.set(page * 2 + (if (de) 1 else 0))
        val u = userZ.sample(rnd)
        val roll = rnd.nextInt(100)
        val user =
          if (roll < 15) { truth.anons += 1; s"10.${u % 256}.${(u / 256) % 256}.${u % 7}" }
          else if (roll < 16) "ClueBot NG" else s"User$u"
        val bot = rnd.nextInt(20) == 0
        if (bot) truth.bots += 1
        val c = rnd.nextInt(100)
        val comment =
          if (c < 8) { truth.reverts += 1; pick(Reverts) }
          else if (c < 14) pick(Notable)
          else if (c < 18) pick(Volatile)
          else if (c < 19) { truth.fixups += 1; "Fixed error in template" }
          else pick(Plain)
        val ns = if (rnd.nextInt(40) == 0) { truth.talk += 1; 1 } else 0
        val isNew = rnd.nextInt(30) == 0
        if (isNew) truth.news += 1
        if (de) truth.otherWiki += 1
        truth.edits += 1
        val old = rnd.nextInt(5000).toLong
        val nw = math.max(0L, old + rnd.nextInt(600) - 200)
        s"""{"title":${q(title)},"comment":${q(comment)},"namespace":$ns,""" +
          s""""user":${q(user)},"bot":$bot,"type":"${if (isNew) "new" else "edit"}",""" +
          s""""length":{"old":$old,"new":$nw},"wiki":"$wiki","server_name":"$server",""" +
          s""""meta":{"dt":"$dt"}}"""
      }
    }

    private def logEvent(kind: Int, wiki: String, server: String, title: String,
        dt: String): String = {
      val form = rnd.nextInt(3)
      val (logType, action, params, lac) = kind match {
        case 0 =>
          truth.moves += 1
          val target = s"Page_${pageZ.sample(rnd)}_moved"
          val p = form match {
            case 0 => s"""{"target":${q(target)},"noredir":"0"}"""
            case 1 => s"""[${q(target)},"0"]"""
            case _ => q(target)
          }
          ("move", "move", p, "")
        case 1 =>
          truth.protects += 1
          val p = form match {
            case 0 => """{"description":"[edit=sysop]"}"""
            case 1 => """["[edit=sysop]"]"""
            case _ => q("[edit=sysop]")
          }
          ("protect", "protect", p, "")
        case _ =>
          val target = pageZ.sample(rnd)
          val open = !seen.get(target * 2 + (if (wiki == "dewiki") 1 else 0))
          if (open) truth.deletesOpen += 1 else truth.deletesGated += 1
          val p = (form, open) match {
            case (0, true) => "{}"
            case (0, false) => """{"length":"2"}"""
            case (1, true) => "[]"
            case (1, false) => """["suppressed"]"""
            case (_, true) => "\"\""
            case (_, false) => q("suppressed")
          }
          ("delete", "delete", p, s"deleted &quot;[[Page_$target]]&quot;")
      }
      truth.logParamForms(form) += 1
      s"""{"title":${q(title)},"comment":"log","namespace":0,"user":"Admin","bot":false,""" +
        s""""type":"log","length":{"old":0,"new":0},"wiki":"$wiki","server_name":"$server",""" +
        s""""log_type":"$logType","log_action":"$action","log_params":$params,""" +
        s""""log_action_comment":${q(lac)},"meta":{"dt":"$dt"}}"""
    }
  }

  /** The `text/event-stream` frame carrying one event. */
  def sseFrame(id: Long, json: String): String = s"event: message\nid: $id\ndata: $json\n\n"

  // ---- documents ------------------------------------------------------------

  final case class Doc(id: Long, text: String, lang: String)

  val Stopwords = Seq("the", "a", "be", "to", "of", "and", "that", "have", "with")
  private val Langs = Seq("en", "en", "en", "en", "de", "de", "zh", "zh", "fr", "fr")

  /** Prose-like text: Zipf words from a seeded pseudo-word vocabulary,
    * stopwords, and line breaks — so the Gopher gate keeps it.
    */
  final class Words(seed: Long, vocab: Int = 20000) {
    private val vr = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val words: Array[String] = Array.tabulate(vocab) { i =>
      val len = 3 + vr.nextInt(7)
      val sb = new StringBuilder
      while (sb.length < len) sb += ('a' + vr.nextInt(26)).toChar
      sb.toString + (i % 10)
    }
    private val z = new Zipf(vocab, 0.9)
    def text(r: SplittableRandom, nWords: Int): String = {
      val sb = new StringBuilder
      var k = 0
      while (k < nWords) {
        if (k > 0) sb += (if (k % 14 == 0) '\n' else ' ')
        sb ++= (if (r.nextInt(5) == 0) Stopwords(r.nextInt(Stopwords.size)) else words(z.sample(r)))
        k += 1
      }
      sb.toString
    }
    def tokens(r: SplittableRandom, nWords: Int): Array[String] = text(r, nWords).split("\\s+")
  }

  def lang(r: SplittableRandom): String = Langs(r.nextInt(Langs.size))

  /** Replace `k` distinct word positions of `text`: a near-duplicate. */
  def perturb(r: SplittableRandom, w: Words, text: String, k: Int): String = {
    val t = text.split(" ", -1)
    (0 until k).foreach { _ => val p = r.nextInt(t.length); t(p) = w.words(r.nextInt(w.words.length)) + "x" }
    t.mkString(" ")
  }

  /** A training corpus for `curationReport` with planted ground truth:
    * exact copies, near-duplicates, eval-contaminated docs and low-quality
    * docs at known counts; plus the eval set.
    */
  final case class Corpus(train: Seq[Doc], eval: Seq[Doc], exactCopies: Int,
      nearDups: Int, contaminated: Int, lowQuality: Int)

  def corpus(seed: Long, nTrain: Int, nEval: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val w = new Words(seed)
    val eval = (0 until nEval).map(i => Doc(50000000L + i, w.text(r, 80 + r.nextInt(60)), "en"))
    val nCopy = nTrain * 3 / 100; val nNear = nTrain * 3 / 100
    val nCont = nTrain * 2 / 100; val nLow = nTrain * 3 / 100
    val nFresh = nTrain - nCopy - nNear - nCont - nLow
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    def add(text: String): Unit = docs += Doc(docs.length + 1L, text, lang(r))
    (0 until nFresh).foreach(_ => add(w.text(r, 70 + r.nextInt(80))))
    // Originals are distinct fresh docs so every planted copy is the one
    // non-canonical member of its exact group.
    val originals = r.ints(0, nFresh).distinct().limit(nCopy + nNear).toArray
    originals.take(nCopy).foreach(o => add(docs(o).text))
    originals.drop(nCopy).foreach(o => add(perturb(r, w, docs(o).text, 3)))
    (0 until nCont).foreach { _ =>
      val e = eval(r.nextInt(nEval)).text.split(" ")
      val span = e.slice(10, 22).mkString(" ")
      add(w.text(r, 40 + r.nextInt(30)) + " " + span + " " + w.text(r, 40))
    }
    (0 until nLow).foreach { k =>
      if (k % 2 == 0) add(w.text(r, 10 + r.nextInt(20)))          // too short
      else add(Seq.fill(60)(w.words(r.nextInt(5))).mkString(" "))  // repetitive
    }
    Corpus(docs.toSeq, eval, nCopy, nNear, nCont, nLow)
  }

  /** One ingest batch for the dedup index lifecycle: fresh docs, exact
    * copies of never-retracted base docs, near-duplicates of base docs,
    * and exact duplicate pairs inside the batch. `copies` lists the doc
    * ids the exact tier must flag.
    */
  final case class IngestBatch(docs: Seq[Doc], copies: Set[Long], fresh: Seq[Long])

  def ingestBatch(seed: Long, index: Int, base: IndexedSeq[Doc], size: Int,
      firstId: Long): IngestBatch = {
    val r = new SplittableRandom(seed * 1000003L + index)
    val w = new Words(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val copies = scala.collection.mutable.Set.empty[Long]
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id: Long = firstId + out.length
    while (out.length < size) {
      val k = r.nextInt(100)
      if (k < 10) { copies += id; out += Doc(id, base(r.nextInt(base.length)).text, lang(r)) }
      else if (k < 15) out += Doc(id, perturb(r, w, base(r.nextInt(base.length)).text, 3), lang(r))
      else if (k < 20 && out.length + 2 <= size) {
        val t = w.text(r, 70 + r.nextInt(80))
        fresh += id; out += Doc(id, t, lang(r))
        copies += id; out += Doc(id, t, lang(r))
      } else { fresh += id; out += Doc(id, w.text(r, 70 + r.nextInt(80)), lang(r)) }
    }
    IngestBatch(out.toSeq, copies.toSet, fresh.toSeq)
  }
}
