package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded generator of a Wikidata-shaped JSON dump: a top-level array
  * with one entity per line and trailing commas, as the real dump is.
  *
  * The shape covers what the ingest path branches on:
  *   - Q items, P properties and L lexemes (lexemes carry `lemmas`);
  *   - labels and descriptions in several languages, some items with
  *     no English label at all;
  *   - a heavy-tailed number of statements per entity, with
  *     qualifiers, references, ranks and statement ids;
  *   - every datatype branch of `Transform.valueUnion`, plus
  *     `somevalue`/`novalue` snaks;
  *   - P1113 (episodes), P179 (part of the series) and P527 (has
  *     parts), so the documented Media view has real rows;
  *   - about 1% malformed lines: truncated JSON, MediaInfo ids and
  *     objects without an id, all of which the source must drop.
  *
  * Values carry per-entity entropy (hashes, statement ids, random
  * words, coordinates, dates) so the parquet the load writes is sized
  * like real data rather than like a repeated template.
  *
  * Everything the checks need is recorded while writing, so expected
  * results are closed-form facts of the generator, not re-derived
  * from the program under test.
  */
object DumpGen {

  /** One Q item as the checks see it. `episodes`/`parent` are -1 when
    * absent. `props` has bit 0..3 set when the item has a main claim
    * for P31, P1113, P179, P527 respectively. */
  final case class Item(qid: Long, label: String, description: String,
                        episodes: Long, parent: Long, children: Int,
                        props: Int)

  final case class Dump(bytes: Long, lines: Long,
                        entities: Long, perTb: Map[String, Long],
                        claims: Long, p1113Sum: Long, items: Array[Item])

  /** Property bits tracked per item, in `Item.props` order. */
  val TrackedProps: Seq[Int] = Seq(31, 1113, 179, 527)

  val Categories: IndexedSeq[String] = IndexedSeq(
    "television series", "anime television series", "film",
    "television season", "episode", "human", "village", "river",
    "scholarly article", "album", "single", "video game",
    "book", "painting", "company", "school", "mountain", "lake",
    "species of insect", "asteroid", "galaxy", "chemical compound",
    "band", "football club")

  private val Langs = IndexedSeq("de", "fr", "es", "it", "nl", "ja", "ru")

  // (pid, datatype, weight) of the random statement pool; P1113, P179
  // and P527 are emitted separately so the checks know them exactly
  private val Pool: IndexedSeq[(Int, String, Int)] = IndexedSeq(
    (31, "wikibase-item", 10), (279, "wikibase-item", 3),
    (17, "wikibase-item", 4), (495, "wikibase-item", 2),
    (136, "wikibase-item", 3), (577, "time", 4), (580, "time", 2),
    (582, "time", 1), (625, "globe-coordinate", 3),
    (1476, "monolingualtext", 3), (7535, "multilingualtext", 1),
    (856, "url", 3), (18, "commonsMedia", 3), (214, "external-id", 4),
    (345, "external-id", 3), (646, "external-id", 3), (2534, "math", 1),
    (3896, "geo-shape", 1), (6883, "musical-notation", 1),
    (4179, "tabular-data", 1), (1545, "string", 2), (1552, "string", 1),
    (2047, "quantity", 2), (2130, "quantity", 1),
    (1687, "wikibase-property", 1), (6254, "wikibase-lexeme", 1),
    (5830, "wikibase-form", 1), (5137, "wikibase-sense", 1))
  private val PoolWeight = Pool.map(_._3).sum

  private val QualPool: IndexedSeq[(Int, String)] = IndexedSeq(
    (580, "time"), (582, "time"), (1545, "string"),
    (642, "wikibase-item"), (459, "wikibase-item"),
    (1480, "wikibase-item"), (2241, "wikibase-item"))

  private val Syllables = IndexedSeq("ka", "lo", "mi", "ren", "to", "sa",
    "vel", "dor", "an", "is", "qua", "zen", "pi", "mor", "tal", "ex",
    "ul", "bri", "sor", "na", "gal", "fen", "ri", "os")

  private val JaChars = "アイウエオカキクケコサシスセソタチツテトナニヌネノ"

  def write(path: String, seed: Long, n: Int): Dump =
    new Writer(seed, n).run(path)

  private final class Writer(seed: Long, n: Int) {
    private val rng = new SplittableRandom(seed)
    private val sb = new java.lang.StringBuilder(4096)

    // kinds and ids are fixed up front so links can point forward;
    // shares follow Wikidata (see README.md, "The dump generator"):
    // 1.1% lexemes, 0.01% properties with a floor of two, rest items
    private val kinds: Array[Byte] = {
      val nP = math.max(2, math.round(n * 0.0001).toInt)
      val nL = math.round(n * 0.011).toInt
      val a = Array.tabulate(n)(i => (if (i < nP) 1 else if (i < nP + nL) 2 else 0).toByte)
      var i = n - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a
    }
    private val nItems = kinds.count(_ == 0)
    private val seriesFlag: Array[Boolean] =
      Array.fill(nItems)(rng.nextDouble() < 0.06)
    private val seriesIds: Array[Long] =
      seriesFlag.indices.filter(seriesFlag(_)).map(qidOf).toArray
    private val vocab: IndexedSeq[String] = IndexedSeq.fill(1500) {
      val k = 2 + rng.nextInt(3)
      (0 until k).map(_ => Syllables(rng.nextInt(Syllables.length))).mkString
    }.distinct

    private def qidOf(item: Int): Long = 1000L + item
    private def word(): String = vocab(rng.nextInt(vocab.length))
    private def words(k: Int): String =
      (0 until k).map(_ => word()).mkString(" ")
    private def hex(len: Int): String = {
      val c = new Array[Char](len)
      var i = 0
      while (i < len) { c(i) = "0123456789abcdef".charAt(rng.nextInt(16)); i += 1 }
      new String(c)
    }
    private def randomItem(): Long = 1000L + rng.nextInt(math.max(nItems, 1))

    private def langValue(lang: String, value: String): Unit =
      sb.append('"').append(lang).append("\":{\"language\":\"").append(lang)
        .append("\",\"value\":\"").append(value).append("\"}")

    private def jaWord(): String = {
      val k = 2 + rng.nextInt(4)
      (0 until k).map(_ => JaChars.charAt(rng.nextInt(JaChars.length))).mkString
    }

    /** labels/descriptions object; `en` first when given. */
    private def langMap(en: String, otherProb: Double): Unit = {
      sb.append('{')
      var first = true
      if (en != null) { langValue("en", en); first = false }
      Langs.foreach { l =>
        if (rng.nextDouble() < otherProb) {
          if (!first) sb.append(',')
          langValue(l, if (l == "ja") jaWord() else words(1 + rng.nextInt(2)))
          first = false
        }
      }
      sb.append('}')
    }

    private def entityValue(kind: String, prefix: Char, num: Long): Unit =
      sb.append("{\"value\":{\"entity-type\":\"").append(kind)
        .append("\",\"numeric-id\":").append(num).append(",\"id\":\"")
        .append(prefix).append(num).append("\"},\"type\":\"wikibase-entityid\"}")

    private def stringValue(v: String): Unit =
      sb.append("{\"value\":\"").append(v).append("\",\"type\":\"string\"}")

    private def timeValue(): Unit = {
      val y = 1800 + rng.nextInt(225)
      val m = 1 + rng.nextInt(12)
      val d = 1 + rng.nextInt(28)
      val prec = if (rng.nextDouble() < 0.3) 9 else 11
      sb.append(f"""{"value":{"time":"+$y%04d-$m%02d-$d%02dT00:00:00Z","timezone":0,"before":0,"after":0,"precision":$prec,"calendarmodel":"http://www.wikidata.org/entity/Q1985727"},"type":"time"}""")
    }

    /** A datavalue for `datatype`; `amount` >= 0 forces an integer
      * quantity (P1113). */
    private def dataValue(datatype: String, amount: Long = -1L): Unit =
      datatype match {
        case "wikibase-item" => entityValue("item", 'Q', randomItem())
        case "wikibase-property" =>
          entityValue("property", 'P', 1L + rng.nextInt(9000))
        case "wikibase-lexeme" =>
          entityValue("lexeme", 'L', 1L + rng.nextInt(50000))
        case "wikibase-form" =>
          sb.append(s"""{"value":{"entity-type":"form","id":"L${1 + rng.nextInt(50000)}-F${1 + rng.nextInt(4)}"},"type":"wikibase-entityid"}""")
        case "wikibase-sense" =>
          sb.append(s"""{"value":{"entity-type":"sense","id":"L${1 + rng.nextInt(50000)}-S${1 + rng.nextInt(3)}"},"type":"wikibase-entityid"}""")
        case "string" => stringValue(s"${word()}-${rng.nextInt(1000)}")
        case "external-id" => stringValue(s"${hex(2)}${rng.nextInt(100000000)}")
        case "url" => stringValue(s"https://www.${word()}.org/${word()}/${hex(6)}")
        case "commonsMedia" => stringValue(s"${words(2)} ${rng.nextInt(10000)}.jpg")
        case "math" => stringValue(s"x^{${rng.nextInt(9)}} + ${word()}")
        case "geo-shape" => stringValue(s"Data:${word()}/${word()}.map")
        case "musical-notation" => stringValue(s"\\\\relative c' { ${word()} }")
        case "tabular-data" => stringValue(s"Data:${word()} ${rng.nextInt(1000)}.tab")
        case "monolingualtext" =>
          sb.append(s"""{"value":{"text":"${words(2 + rng.nextInt(3))}","language":"en"},"type":"monolingualtext"}""")
        case "multilingualtext" =>
          sb.append(s"""{"value":[{"text":"${words(2)}","language":"en"},{"text":"${words(2)}","language":"de"}],"type":"multilingualtext"}""")
        case "quantity" if amount >= 0 =>
          sb.append(s"""{"value":{"amount":"+$amount","unit":"1"},"type":"quantity"}""")
        case "quantity" =>
          val a = rng.nextInt(100000) / 100.0
          sb.append(s"""{"value":{"amount":"+$a","unit":"http://www.wikidata.org/entity/Q11573","upperBound":"+${a + 1}","lowerBound":"+${math.max(a - 1, 0.0)}"},"type":"quantity"}""")
        case "time" => timeValue()
        case "globe-coordinate" =>
          val lat = (rng.nextInt(180000000) - 90000000) / 1e6
          val lon = (rng.nextInt(360000000) - 180000000) / 1e6
          sb.append(s"""{"value":{"latitude":$lat,"longitude":$lon,"altitude":null,"precision":1.0E-6,"globe":"http://www.wikidata.org/entity/Q2"},"type":"globe-coordinate"}""")
      }

    private def snak(pid: Int, datatype: String, snaktype: String,
                     amount: Long = -1L)(value: => Unit): Unit = {
      sb.append("{\"snaktype\":\"").append(snaktype).append("\",\"property\":\"P")
        .append(pid).append("\",\"hash\":\"").append(hex(40)).append('"')
      if (snaktype == "value") { sb.append(",\"datavalue\":"); value }
      sb.append(",\"datatype\":\"").append(datatype).append("\"}")
    }

    private def randomSnaktype(): String = {
      val u = rng.nextDouble()
      if (u < 0.03) "somevalue" else if (u < 0.05) "novalue" else "value"
    }

    /** One statement; returns its claim count (1 + qualifiers). */
    private def statement(owner: String, pid: Int, datatype: String,
                          snaktype: String, amount: Long = -1L): Int = {
      sb.append("{\"mainsnak\":")
      snak(pid, datatype, snaktype, amount)(dataValue(datatype, amount))
      sb.append(",\"type\":\"statement\",\"id\":\"").append(owner).append('$')
        .append(hex(8)).append('-').append(hex(4)).append('-').append(hex(12))
        .append('"')
      var quals = 0
      if (rng.nextDouble() < 0.2) {
        // k distinct qualifier properties, one snak each
        val start = rng.nextInt(QualPool.length)
        val k = 1 + rng.nextInt(3)
        sb.append(",\"qualifiers\":{")
        var i = 0
        while (i < k) {
          val (qp, qdt) = QualPool((start + i) % QualPool.length)
          if (i > 0) sb.append(',')
          sb.append("\"P").append(qp).append("\":[")
          snak(qp, qdt, if (rng.nextDouble() < 0.04) "somevalue" else "value")(
            dataValue(qdt))
          sb.append(']')
          i += 1
        }
        sb.append('}')
        quals = k
      }
      val rank = if (rng.nextDouble() < 0.05) "preferred" else "normal"
      sb.append(",\"rank\":\"").append(rank).append('"')
      if (rng.nextDouble() < 0.5) {
        // stated in (P248), retrieved (P813), reference URL (P854)
        val refs = Seq((248, "wikibase-item"), (813, "time"), (854, "url"))
          .filter(r => r._1 == 248 || rng.nextDouble() < (if (r._1 == 813) 0.7 else 0.3))
        sb.append(",\"references\":[{\"hash\":\"").append(hex(40))
          .append("\",\"snaks\":{")
        refs.zipWithIndex.foreach { case ((pid, dt), j) =>
          if (j > 0) sb.append(',')
          sb.append("\"P").append(pid).append("\":[")
          snak(pid, dt, "value")(dataValue(dt))
          sb.append(']')
        }
        sb.append("},\"snaks-order\":[")
          .append(refs.map(r => s"\"P${r._1}\"").mkString(",")).append("]}]")
      }
      sb.append('}')
      1 + quals
    }

    /** Heavy-tailed statement count: Pareto with shape 1.5 and scale
      * 5.5, capped at 200, so median 8 and mean about 14 (Wikidata's
      * statements per item; see README.md). */
    private def statementCount(): Int = {
      val u = 1.0 - rng.nextDouble()
      math.min(200, (5.5 / math.pow(u, 1 / 1.5)).toInt)
    }

    private def pickPool(): (Int, String, Int) = {
      var r = rng.nextInt(PoolWeight)
      var i = 0
      while (r >= Pool(i)._3) { r -= Pool(i)._3; i += 1 }
      Pool(i)
    }

    /** Random statements grouped by property; returns (claims, props
      * bits seen for the tracked pids among them). */
    private def randomClaims(owner: String, first: Boolean): (Int, Int) = {
      val picks = Seq.fill(statementCount())(pickPool()).groupBy(_._1)
        .toSeq.sortBy(_._1)
      var claims = 0
      var bits = 0
      var isFirst = first
      picks.foreach { case (pid, stmts) =>
        if (!isFirst) sb.append(',')
        isFirst = false
        sb.append("\"P").append(pid).append("\":[")
        stmts.zipWithIndex.foreach { case ((_, dt, _), j) =>
          if (j > 0) sb.append(',')
          claims += statement(owner, pid, dt, randomSnaktype())
        }
        sb.append(']')
        val b = TrackedProps.indexOf(pid)
        if (b >= 0) bits |= 1 << b
      }
      (claims, bits)
    }

    private var claimsTotal = 0L
    private var p1113Sum = 0L
    private val items = new ArrayBuffer[Item](nItems)

    private def item(ordinal: Int): Unit = {
      val qid = qidOf(ordinal)
      val owner = s"Q$qid"
      val label = if (rng.nextDouble() < 0.95) s"${words(1 + rng.nextInt(3))} $ordinal" else ""
      val desc =
        if (rng.nextDouble() < 0.85) Categories(rng.nextInt(Categories.length)) else ""
      sb.append("{\"type\":\"item\",\"id\":\"").append(owner).append("\",\"labels\":")
      langMap(if (label.isEmpty) null else label, 0.35)
      sb.append(",\"descriptions\":")
      langMap(if (desc.isEmpty) null else desc, 0.2)
      if (rng.nextDouble() < 0.2) {
        sb.append(",\"aliases\":{\"en\":[{\"language\":\"en\",\"value\":\"")
          .append(words(2)).append("\"}]}")
      }
      sb.append(",\"claims\":{")
      val series = seriesFlag(ordinal)
      var first = true
      var bits = 0
      var claims = 0
      val episodes: Long =
        if (series || rng.nextDouble() < 0.2) 1L + rng.nextInt(500) else -1L
      if (episodes >= 0) {
        sb.append("\"P1113\":[")
        claims += statement(owner, 1113, "quantity", "value", episodes)
        sb.append(']')
        first = false; bits |= 2
        p1113Sum += episodes
      }
      val parent: Long =
        if (!series && seriesIds.nonEmpty && rng.nextDouble() < 0.3)
          seriesIds(rng.nextInt(seriesIds.length)) else -1L
      if (parent >= 0) {
        if (!first) sb.append(',')
        sb.append("\"P179\":[{\"mainsnak\":")
        snak(179, "wikibase-item", "value")(entityValue("item", 'Q', parent))
        sb.append(",\"type\":\"statement\",\"rank\":\"normal\"}]")
        claims += 1; first = false; bits |= 4
      }
      val children = if (series) 1 + rng.nextInt(8) else 0
      if (children > 0) {
        if (!first) sb.append(',')
        sb.append("\"P527\":[")
        var c = 0
        while (c < children) {
          if (c > 0) sb.append(',')
          sb.append("{\"mainsnak\":")
          snak(527, "wikibase-item", "value")(entityValue("item", 'Q', randomItem()))
          sb.append(",\"type\":\"statement\",\"rank\":\"normal\"}")
          c += 1
        }
        sb.append(']')
        claims += children; first = false; bits |= 8
      }
      val (rc, rb) = randomClaims(owner, first)
      claims += rc
      bits |= rb
      sb.append('}')
      if (rng.nextDouble() < 0.4) {
        sb.append(",\"sitelinks\":{\"enwiki\":{\"site\":\"enwiki\",\"title\":\"")
          .append(words(2)).append("\",\"badges\":[]}}")
      }
      sb.append('}')
      claimsTotal += claims
      items += Item(qid, label, desc, episodes, parent, children, bits)
    }

    private def property(ordinal: Int): Unit = {
      val pid = s"P${20000 + ordinal}"
      val dt = Pool(rng.nextInt(Pool.length))._2
      sb.append("{\"type\":\"property\",\"datatype\":\"").append(dt)
        .append("\",\"id\":\"").append(pid).append("\",\"labels\":")
      langMap(s"${words(2)} property", 0.4)
      sb.append(",\"descriptions\":")
      langMap(s"${words(4)}", 0.2)
      sb.append(",\"aliases\":{},\"claims\":{")
      claimsTotal += randomClaims(pid, first = true)._1
      sb.append("}}")
    }

    private def lexeme(ordinal: Int): Unit = {
      val lid = s"L${1 + ordinal}"
      sb.append("{\"type\":\"lexeme\",\"id\":\"").append(lid)
        .append("\",\"lemmas\":")
      langMap(word(), 0.1)
      sb.append(",\"lexicalCategory\":\"Q1084\",\"language\":\"Q1860\",\"claims\":{")
      claimsTotal += randomClaims(lid, first = true)._1
      sb.append("},\"forms\":[],\"senses\":[]}")
    }

    /** A line the source must drop: truncated JSON, an id outside
      * Q/P/L, or an object with no id. */
    private def malformed(): String = rng.nextInt(3) match {
      case 0 =>
        val full = sb.toString
        full.substring(0, 10 + rng.nextInt(math.max(full.length - 20, 1)))
      case 1 =>
        s"""{"type":"mediainfo","id":"M${rng.nextInt(1000000)}","labels":{},"statements":{}}"""
      case _ => s"""{"type":"item","labels":{"en":{"language":"en","value":"${word()}"}}}"""
    }

    def run(path: String): Dump = {
      val out = new FileOutputStream(path)
      val w = new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8), 1 << 20)
      var bytes = 0L
      var lines = 0L
      def emit(line: String, last: Boolean): Unit = {
        val s = if (last) line + "\n" else line + ",\n"
        w.write(s)
        bytes += s.getBytes(StandardCharsets.UTF_8).length
        lines += 1
      }
      emit("[", last = true)
      val counters = Array(0, 0, 0)
      var i = 0
      while (i < n) {
        sb.setLength(0)
        val k = kinds(i)
        k match {
          case 0 => item(counters(0))
          case 1 => property(counters(1))
          case _ => lexeme(counters(2))
        }
        counters(k) += 1
        val line = sb.toString
        if (rng.nextDouble() < 0.01) emit(malformed(), last = false)
        emit(line, last = i == n - 1)
        i += 1
      }
      emit("]", last = true)
      w.close()
      Dump(bytes, lines, n.toLong,
        Map("Entity" -> counters(0).toLong, "Property" -> counters(1).toLong,
          "Lexeme" -> counters(2).toLong),
        claimsTotal, p1113Sum, items.toArray)
    }
  }
}
