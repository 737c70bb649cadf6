package graft.sources

import java.io.InputStream
import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, NoSuchFileException, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{VTuple, VSources}

/** Input detection + parsing (structa source.py:69-254):
  *
  *  - S1/S2 encoding detection over a configurable sample: BOM probing
  *    (UTF-8/16/32), BOM-less UTF-16 NUL-parity heuristic, strict
  *    UTF-8 validation, and an 8-bit byte-range fallback
  *    (windows-1252 vs ISO-8859-1) — each with a confidence; like the
  *    reference (source.py:137-145) detections under 0.9 confidence
  *    warn on stderr
  *  - S3 format detection: `<?xml` → xml (detected then rejected, as
  *    the reference does), `[`/`{` → json, else the YAML-vs-CSV line
  *    scorer (source.py:160-203 scoring reproduced exactly)
  *  - S4 CSV dialect sniffing over the post-header 8 KiB, manually
  *    overridable (`csv_delimiter`/`csv_quotechar` equivalents)
  *  - S5 CSV scan: the first line is ALWAYS skipped as a header and
  *    all values stay strings (the reference's documented quirk —
  *    types are inferred downstream, source.py:237-241)
  *  - S7 YAML: a driver-side subset parser — block maps/lists, FLOW
  *    collections (`{a: 1}`, `[1, 2]`), anchors/aliases (`&a`/`*a`),
  *    multi-document streams (`---`), comments, core-schema scalars.
  *    The "safe" loader restriction is structural: the parser can only
  *    ever build plain maps/lists/scalars, so `yamlSafe=false` is
  *    accepted-but-identical (the reference's unsafe mode constructs
  *    arbitrary Python objects, which has no Spark-side analog).
  *    Block parsing is linear in the number of lines: each step hands
  *    the rest of the document on as a structure-sharing `Vector`
  *    slice, and blank lines are skipped by index, never by copying
  *    the remainder
  *
  * Driver-side detection reads only the sample prefix (of the first
  * data file in sorted order, when the path is a directory or a glob
  * naming a table of part files); the distributed
  * read ([[Source.sparkRead]]) maps the detected format onto
  * `spark.read.json` / `spark.read.csv` with the sniffed options so the
  * full-size scan stays on executors.
  */
object Source {

  val SampleBytes: Int = 1024 * 1024

  /** Per-source knobs mirroring the reference Source constructor
    * (source.py:69-83) / CLI surface (ui/cli.py:70-234).
    */
  final case class SourceOptions(
      format: String = "auto", // auto|csv|json|jsonl|yaml
      encoding: String = "auto",
      encodingStrict: Boolean = true,
      sampleBytes: Int = SampleBytes,
      csvDelimiter: Option[Char] = None,
      csvQuote: Option[Char] = None,
      jsonStrict: Boolean = true,
      yamlSafe: Boolean = true)

  sealed trait Format
  case object JsonFormat extends Format
  /** Beyond-reference: newline-delimited JSON (the dominant LLM
    * training-corpus layout; Spark's native json source shape).
    */
  case object JsonLinesFormat extends Format
  case object CsvFormat extends Format
  case object YamlFormat extends Format
  case object XmlFormat extends Format
  case object UnknownFormat extends Format

  final case class CsvDialect(delimiter: Char, quote: Char)

  final case class Detected(encoding: Charset, confidence: Double,
                            format: Format, dialect: Option[CsvDialect])

  // ---------------------------------------------------------- detection

  /** S2 with a confidence, chardet-style: BOMs are certain; valid
    * multi-byte UTF-8 is near-certain; BOM-less UTF-16 is inferred
    * from the NUL-byte parity skew of ASCII-heavy text; 8-bit data
    * falls back on byte-range evidence (0x80-0x9F bytes are cp1252
    * letters but ISO-8859-1 controls). Anything under 0.9 warrants the
    * reference's low-confidence warning.
    */
  def detectEncodingConfidence(sample: Array[Byte]): (Charset, Double) = {
    if (sample.isEmpty) return (StandardCharsets.UTF_8, 1.0)
    // BOMs — UTF-32 before UTF-16 (FF FE 00 00 starts with FF FE)
    if (sample.length >= 4 && sample(0) == 0xFF.toByte &&
        sample(1) == 0xFE.toByte && sample(2) == 0 && sample(3) == 0)
      return (Charset.forName("UTF-32LE"), 1.0)
    if (sample.length >= 4 && sample(0) == 0 && sample(1) == 0 &&
        sample(2) == 0xFE.toByte && sample(3) == 0xFF.toByte)
      return (Charset.forName("UTF-32BE"), 1.0)
    if (sample.length >= 3 && sample(0) == 0xEF.toByte &&
        sample(1) == 0xBB.toByte && sample(2) == 0xBF.toByte)
      return (StandardCharsets.UTF_8, 1.0)
    if (sample.length >= 2 && sample(0) == 0xFF.toByte &&
        sample(1) == 0xFE.toByte) return (StandardCharsets.UTF_16LE, 1.0)
    if (sample.length >= 2 && sample(0) == 0xFE.toByte &&
        sample(1) == 0xFF.toByte) return (StandardCharsets.UTF_16BE, 1.0)
    // BOM-less UTF-16: ASCII-dominated text encodes as alternating
    // NUL/non-NUL bytes with a strong parity skew
    var nulEven = 0
    var nulOdd = 0
    var i = 0
    while (i < sample.length) {
      if (sample(i) == 0) { if (i % 2 == 0) nulEven += 1 else nulOdd += 1 }
      i += 1
    }
    val nuls = nulEven + nulOdd
    if (nuls * 4 > sample.length) { // ≥ 25% NULs: not an 8-bit text
      if (nulOdd > nulEven * 4)
        return (StandardCharsets.UTF_16LE, 0.85)
      if (nulEven > nulOdd * 4)
        return (StandardCharsets.UTF_16BE, 0.85)
    }
    // ISO-2022-JP is pure 7-bit (it would pass the UTF-8 probe
    // below) but is escape-sequence-signatured: ESC $ @ / ESC $ B
    // shift into JIS X 0208 — bytes vanishingly rare in real text
    if (iso2022JpSignature(sample))
      return (Charset.forName("ISO-2022-JP"), 0.95)
    // strict UTF-8 validation
    val dec = StandardCharsets.UTF_8.newDecoder()
    val utf8Ok =
      try { dec.decode(java.nio.ByteBuffer.wrap(sample)); true }
      catch { case _: java.nio.charset.CharacterCodingException => false }
    if (utf8Ok) {
      val hasMultiByte = sample.exists(b => (b & 0x80) != 0)
      return (StandardCharsets.UTF_8, if (hasMultiByte) 0.99 else 1.0)
    }
    // CJK multi-byte families (the chardet capability the reference
    // gets for free, source.py:137-145): strict-decode each candidate
    // and score the decoded text by CJK-script membership
    val cjk = detectCjk(sample)
    if (cjk.exists(_._2 >= 0.9)) return cjk.get
    // single-byte script families (Cyrillic, Greek, Hebrew, Arabic,
    // Thai, Turkish): every 8-bit table decodes any byte, so
    // letter-frequency is the separator. A sub-0.9 (uncorroborated)
    // CJK candidate loses to a confident single-byte read — the
    // GBK-eats-dense-8-bit-text confusion in reverse.
    val cyr = detectSingleByteScript(sample)
    (cjk, cyr) match {
      case (Some(a), Some(b)) => return if (b._2 > a._2) b else a
      case (Some(a), None) => return a
      case (None, Some(b)) => return b
      case _ =>
    }
    // 8-bit fallback: windows-1252 when the cp1252-specific range is
    // in use, else ISO-8859-1 — both are guesses, both warn
    val hasC1 = sample.exists(b => (b & 0xFF) >= 0x80 && (b & 0xFF) <= 0x9F)
    if (hasC1) (Charset.forName("windows-1252"), 0.7)
    else (StandardCharsets.ISO_8859_1, 0.73)
  }

  /** A single-byte script family: candidate byte→char tables, the
    * script's Unicode letter zone, and its most-frequent letters
    * (~half of running text in that language). Every 8-bit table
    * decodes every byte into ITS OWN letter zone, so script
    * membership alone separates nothing; only the right table lines
    * the bytes up with the language's letter-frequency profile (a
    * wrong table scrambles the alphabet and the common-letter
    * fraction collapses) — the compact form of chardet's frequency
    * analysis, which is what the reference delegates to
    * (source.py:137-145).
    */
  private final case class ScriptFamily(charsets: Seq[String],
      blockLo: Int, blockHi: Int, common: Set[Char],
      commonThresh: Double)

  private val scriptFamilies = Seq(
    // ten most frequent Russian letters ≈ 55% of running text
    ScriptFamily(Seq("windows-1251", "KOI8-R", "ISO-8859-5"),
      0x0400, 0x04FF, "оеаинтсрвл".toSet, 0.42),
    // Greek (incl. final sigma): tonos accents are stripped by the
    // NFD pass below — every Greek word carries one accented vowel,
    // and ISO-8859-7/cp1253 store them precomposed. The two tables
    // lay lowercase Greek out identically, so they are separable
    // only on rarer uppercase-accented positions; either answer
    // decodes running text correctly (chardet has the same merge).
    ScriptFamily(Seq("ISO-8859-7", "windows-1253"),
      0x0370, 0x03FF, "αοιετσνηυρς".toSet, 0.42),
    // Hebrew: no case, niqqud rare in modern text
    ScriptFamily(Seq("windows-1255"), 0x0590, 0x05FF,
      "יוהאלמרתבש".toSet, 0.40),
    // Arabic: contextual glyph forms share codepoints, harakat rare
    ScriptFamily(Seq("windows-1256"), 0x0600, 0x06FF,
      "اليمونرتبة".toSet, 0.40),
    // Thai: vowel signs / tone marks are separate in-block chars
    // diluting the letter mass — lower threshold
    ScriptFamily(Seq("TIS-620"), 0x0E00, 0x0E7F,
      "านรอกเงมยว".toSet, 0.35))

  /** Strip combining marks so precomposed accents (Greek tonos,
    * Cyrillic breve) match their base letters in the common sets.
    */
  private def baseLetters(text: String): String = {
    val d = java.text.Normalizer.normalize(text,
      java.text.Normalizer.Form.NFD)
    d.filter(c => c < 0x0300 || c > 0x036F)
  }

  /** Turkish-specific letters: the six positions where ISO-8859-9
    * (Latin-5) differs from Latin-1, plus the shared öüçâîû the
    * language also uses. cp1252-family accent text (French é,
    * German äß) never concentrates on this set, and the
    * Latin-5-specific letters (dotless ı above all — the most
    * frequent non-ASCII letter in Turkish) never appear in it.
    */
  private val turkishSpecific: Set[Char] = "ğışĞİŞ".toSet
  private val turkishLetters: Set[Char] =
    turkishSpecific ++ "öüçâîûÖÜÇÂÎÛ".toSet

  private def detectSingleByteScript(sample: Array[Byte])
      : Option[(Charset, Double)] = {
    val nonAscii = sample.count(b => (b & 0x80) != 0)
    // (1) non-Latin families: their scripts have no ASCII letters,
    // so real text is non-ASCII-DENSE (~85% for letter text with
    // ASCII spaces). The high gate is also what keeps mostly-ASCII
    // Turkish out of the Greek tables: Latin-5 ü/ı/ç decode onto
    // common Greek vowels with a perfect block score, and only
    // density separates the two shapes.
    val dense =
      nonAscii.toLong * 100 >= sample.length.toLong * 40
    val scored = if (!dense) Seq.empty else for {
      fam <- scriptFamilies
      name <- fam.charsets
      cs <- scala.util.Try(Charset.forName(name)).toOption
    } yield {
      val text = baseLetters(new String(sample, cs))
      var block = 0
      var common = 0
      var n = 0
      text.foreach { c =>
        if (c >= 0x80) {
          n += 1
          if (c >= fam.blockLo && c <= fam.blockHi) block += 1
          if (fam.common.contains(Character.toLowerCase(c)))
            common += 1
        }
      }
      if (n < 8) (cs, 0.0, 0.0)
      // ratio to the family threshold makes families with different
      // letter-mass profiles comparable on one scale
      else (cs, block.toDouble / n,
        common.toDouble / n / fam.commonThresh)
    }
    // confident = frequency profile fits AND essentially every
    // non-ASCII char is in-script. The block demand is the
    // tie-breaker between tables: the RIGHT one maps running text
    // entirely into its script zone, while a coincidental frequency
    // fit through the wrong family leaks chars outside the block
    // (measured: Thai through cp1253 reaches ratio 1.15 but only
    // block 0.81; through TIS-620 it is 1.11 / 1.00).
    val qualified = scored.filter(s => s._3 >= 1.0 && s._2 >= 0.95)
    if (qualified.nonEmpty)
      return Some((qualified.maxBy(_._3)._1, 0.92))
    // (2) Turkish: mostly-ASCII Latin text — its own density gate.
    // Demand the profile AND real mass on the Latin-5-specific
    // letters, which European cp1252 accents cannot produce.
    if (nonAscii.toLong * 100 >= sample.length.toLong * 4 &&
        nonAscii >= 8) {
      scala.util.Try(Charset.forName("ISO-8859-9")).toOption
        .foreach { cs =>
          val text = new String(sample, cs)
          var tr = 0
          var spec = 0
          var n = 0
          text.foreach { c =>
            if (c >= 0x80) {
              n += 1
              if (turkishLetters.contains(c)) tr += 1
              if (turkishSpecific.contains(c)) spec += 1
            }
          }
          if (n >= 8 && tr.toDouble / n >= 0.85 &&
              spec.toDouble / n >= 0.2)
            return Some((cs, 0.92))
        }
    }
    // (3) clearly single-script 8-bit text but no table's frequency
    // profile fits: report the best block membership with a
    // warning-level confidence
    if (scored.isEmpty) None
    else Some(scored.maxBy(_._2)).filter(_._2 >= 0.9)
      .map(b => (b._1, 0.75))
  }

  /** Shift-JIS / EUC-JP / EUC-KR / GBK detection, chardet-style but
    * decoder driven: a candidate survives only if the JVM's STRICT
    * decoder accepts the whole sample (unassigned code points throw,
    * which is what separates e.g. real GBK hanzi from EUC-JP noise),
    * then the decoded text is scored by CJK script membership — full
    * kana and unified ideographs score high, halfwidth katakana low
    * (it is the signature of EUC bytes mis-read as Shift-JIS
    * singles). Tie goes to the earlier candidate.
    */
  private val cjkCandidates = Seq("Shift_JIS", "EUC-JP", "EUC-KR",
    "GBK", "Big5")

  /** ESC $ @ / ESC $ B — the JIS X 0208 shift-in sequences. */
  private def iso2022JpSignature(sample: Array[Byte]): Boolean = {
    var i = 0
    while (i + 2 < sample.length) {
      if (sample(i) == 0x1B && sample(i + 1) == '$' &&
          (sample(i + 2) == '@' || sample(i + 2) == 'B')) return true
      i += 1
    }
    false
  }

  /** Fraction of multi-byte pairs whose trail byte sits in the ASCII
    * range 0x40-0x7E: Big5 (and Shift-JIS) use that half of the trail
    * space heavily, EUC-style encodings (GB2312 / KS X 1001 zones)
    * never do — the one structural separator between Big5 and GBK
    * bytes, which otherwise decode into each other's hanzi zones.
    */
  private def lowTrailFrac(sample: Array[Byte]): Double = {
    var pairs = 0
    var low = 0
    var i = 0
    while (i < sample.length) {
      if ((sample(i) & 0xFF) >= 0x81) {
        if (i + 1 < sample.length) {
          val t = sample(i + 1) & 0xFF
          pairs += 1
          if (t >= 0x40 && t <= 0x7E) low += 1
        }
        i += 2
      } else i += 1
    }
    if (pairs == 0) 0.0 else low.toDouble / pairs
  }

  private def detectCjk(sample: Array[Byte])
      : Option[(Charset, Double)] = {
    // CJK text is multi-byte DENSE; sparse high bytes mean accented
    // Latin (which GBK's permissive trail range could otherwise
    // swallow pair-wise)
    val nonAsciiBytes = sample.count(b => (b & 0x80) != 0)
    if (nonAsciiBytes.toLong * 100 < sample.length.toLong * 15)
      return None
    val lt = lowTrailFrac(sample)
    val scored = cjkCandidates.flatMap { name =>
      val cs = Charset.forName(name)
      strictDecode(sample, cs).flatMap { text =>
        val (score, n, kana, hangul) = cjkTextScore(text)
        // demand real evidence: ≥ 8 non-ASCII decoded chars
        if (n < 8) None
        else {
          // The multi-byte zones overlap heavily (GB2312 and KS X
          // 1001 were both modelled on JIS), so raw scores tie on
          // structurally-ambiguous bytes; the reliable separators
          // are script-dominance facts about real prose: Japanese
          // always carries kana, Korean is hangul-DOMINANT (Chinese
          // decoded as EUC-KR shows a hangul/hanja mix well under
          // 70%), Chinese has neither — and Big5 vs GBK separates on
          // trail-byte structure (lowTrailFrac), not on the decoded
          // hanzi.
          val kanaFrac = kana.toDouble / n
          val hangulFrac = hangul.toDouble / n
          val adj = name match {
            case "Shift_JIS" | "EUC-JP" =>
              if (kanaFrac >= 0.05) 0.05 else -0.1
            case "EUC-KR" =>
              if (hangulFrac >= 0.7) 0.05 else -0.1
            case "GBK" => if (lt >= 0.05) -0.1 else 0.0
            case "Big5" => if (lt >= 0.05) 0.05 else -0.1
            case _ => 0.0
          }
          // kana-free winners need corroborating structure: dense
          // single-byte text (e.g. cp1251 Cyrillic with even-length
          // runs) can strict-decode into a wall of plausible GBK
          // hanzi or EUC-KR hangul. Real Chinese prose carries
          // 。，、-class punctuation; real Korean prose word-spaces
          // with ASCII whitespace (which also breaks the byte parity
          // a single-byte wall needs to survive the strict decoder).
          // Without the signal, confidence stays under the 0.9
          // warning threshold instead of asserting a false match.
          val punct = text.exists(c =>
            (c >= 0x3000 && c <= 0x303F) ||
            (c >= 0xFF00 && c <= 0xFFEF))
          val corroborated = name match {
            case "GBK" | "Big5" => kana > 0 || punct
            case "EUC-KR" => punct ||
              text.exists(c => c == ' ' || c == '\n' || c == '\t')
            case _ => true
          }
          Some((cs, score + adj, corroborated))
        }
      }
    }
    scored.sortBy(-_._2).headOption.collect {
      case (cs, score, corroborated) if score >= 0.75 =>
        val conf = math.min(0.99, 0.6 + 0.4 * score)
        (cs, if (corroborated) conf else math.min(conf, 0.85))
    }
  }

  /** Strict decode tolerating a truncated final character (the
    * detection sample is a byte prefix and may cut mid-sequence).
    */
  private def strictDecode(sample: Array[Byte],
                           cs: Charset): Option[String] = {
    var cut = 0
    while (cut <= 3 && cut < sample.length) {
      try return Some(cs.newDecoder()
        .decode(java.nio.ByteBuffer.wrap(sample, 0,
          sample.length - cut)).toString)
      catch {
        case _: java.nio.charset.CharacterCodingException => cut += 1
      }
    }
    None
  }

  /** (mean CJK-membership weight of non-ASCII chars, their count,
    * full-width kana count, hangul count).
    */
  private def cjkTextScore(text: String): (Double, Int, Int, Int) = {
    var good = 0.0
    var n = 0
    var kana = 0
    var hangul = 0
    text.foreach { c =>
      if (c >= 0x80) {
        n += 1
        if (c >= 0x3040 && c <= 0x30FF) kana += 1
        if (c >= 0xAC00 && c <= 0xD7AF) hangul += 1
        good +=
          (if (c >= 0x3040 && c <= 0x30FF) 1.0 // hiragana + katakana
           else if (c >= 0x4E00 && c <= 0x9FFF) 0.9 // CJK unified
           else if (c >= 0x3000 && c <= 0x303F) 0.8 // CJK punctuation
           else if (c >= 0xFF61 && c <= 0xFF9F) 0.2 // halfwidth kana
           else if (c >= 0xFF00 && c <= 0xFFEF) 0.8 // fullwidth forms
           else if (c >= 0xAC00 && c <= 0xD7AF) 0.9 // hangul
           else 0.0)
      }
    }
    (if (n == 0) 0.0 else good / n, n, kana, hangul)
  }

  /** S2 compatibility form (confidence dropped). */
  def detectEncoding(sample: Array[Byte]): Charset =
    detectEncodingConfidence(sample)._1

  /** S3 (source.py:147-162), extended with JSONL discrimination: a
    * sample whose FIRST LINE is a complete JSON document followed by
    * another JSON-opening line is a newline-delimited stream (the
    * reference rejects such files; Spark reads them natively).
    */
  def detectFormat(sample: String): Format = {
    if (sample.startsWith("<?xml")) return XmlFormat
    val stripped = sample.dropWhile(_.isWhitespace)
    stripped.headOption match {
      case Some('[') | Some('{') =>
        val lines = sample.linesIterator.filter(_.trim.nonEmpty)
          .take(2).toVector
        val jsonl = lines.length == 2 &&
          Seq('{', '[').contains(lines(1).trim.head) &&
          (try { graft.tools.Json.parse(lines(0)); true }
           catch { case _: Exception => false })
        if (jsonl) JsonLinesFormat else JsonFormat
      case Some('<') => XmlFormat
      case _ => detectYamlOrCsv(sample)
    }
  }

  /** The YAML-vs-CSV line scorer (source.py:164-203). */
  def detectYamlOrCsv(sample: String): Format = {
    // drop the potentially-partial last line
    val lines = sample.linesIterator.toVector.dropRight(1)
    var csvScore = 0
    var yamlScore = 0
    for (line <- lines) {
      if (line.startsWith("#") || line.startsWith(" ") ||
          line.startsWith("-") || line.endsWith(":")) {
        yamlScore += 2
      } else {
        val hasFieldDelims = line.exists(",; \t".contains(_))
        val quotes = math.max(line.count(_ == '"'),
          line.count(_ == '\''))
        if (hasFieldDelims && quotes > 0 && quotes % 2 == 0)
          csvScore += 2
        else if (line.count(_ == ':') == 1) yamlScore += 1
        else if (hasFieldDelims) csvScore += 1
      }
    }
    if (yamlScore > csvScore) YamlFormat
    else if (csvScore > 0) CsvFormat
    else UnknownFormat
  }

  /** S4: pick the delimiter whose per-line count is most consistent
    * over the post-header 8 KiB (csv.Sniffer's core idea).
    */
  def sniffCsvDialect(sample: String): CsvDialect = {
    val body = sample.linesIterator.drop(1).mkString("\n").take(8192)
    val lines = body.linesIterator.filter(_.nonEmpty).toVector
    val candidates = ",; \t".toSeq
    val best = candidates.maxBy { d =>
      val counts = lines.map(_.count(_ == d))
      if (counts.isEmpty || counts.forall(_ == 0)) -1.0
      else {
        val mode = counts.groupBy(identity).maxBy(_._2.size)
        // consistency × frequency
        mode._2.size.toDouble / counts.size * (mode._1 + 1)
      }
    }
    val quote = if (body.count(_ == '\'') > body.count(_ == '"')) '\''
                else '"'
    CsvDialect(best, quote)
  }

  // ------------------------------------------------------------ parsing

  /** S5: RFC-4180-ish CSV → rows of string tuples; the FIRST LINE IS
    * ALWAYS SKIPPED (reference quirk, source.py:237-241).
    */
  def parseCsv(text: String, dialect: CsvDialect): Vector[Any] =
    csvRecords(text, dialect).drop(1)

  /** Every CSV record of `text`, the header line included. */
  private def csvRecords(text: String, dialect: CsvDialect)
      : Vector[VTuple] = {
    val rows = Vector.newBuilder[VTuple]
    val row = Vector.newBuilder[Any]
    val field = new StringBuilder
    var inQuotes = false
    var sawAny = false
    def endField(): Unit = { row += field.result(); field.clear() }
    def endRow(): Unit = {
      endField()
      rows += VTuple(row.result().toVector)
      row.clear()
      sawAny = false
    }
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQuotes) {
        if (c == dialect.quote) {
          if (i + 1 < text.length && text.charAt(i + 1) == dialect.quote) {
            field += c; i += 1
          } else inQuotes = false
        } else field += c
      } else c match {
        case q if q == dialect.quote => inQuotes = true; sawAny = true
        case d if d == dialect.delimiter => endField(); sawAny = true
        case '\r' =>
          if (i + 1 < text.length && text.charAt(i + 1) == '\n') i += 1
          endRow()
        case '\n' => endRow()
        case other => field += other; sawAny = true
      }
      i += 1
    }
    if (sawAny || field.nonEmpty) endRow()
    rows.result()
  }

  // --------------------------------------------------------------- YAML

  /** S7: YAML subset — block maps/lists, block scalars (`|`, `>` with
    * clip/strip chomping), multi-line plain scalars, single- and
    * multi-line flow collections, tags (`!!str` etc. coerce; verbatim
    * `!<uri>` and `%TAG`-declared handles resolve, then unknown tags
    * are ignored and the value parsed), anchors/aliases,
    * multi-document streams, `%YAML`/`%TAG` directive sections,
    * comments, core-schema scalars. A multi-document stream returns a
    * Vector of documents. Lines stay RAW until structurally
    * interpreted, so a ` #` inside a block scalar body is content,
    * not a comment.
    */
  def parseYaml(text: String): Any = {
    val anchors = scala.collection.mutable.HashMap.empty[String, Any]
    // keep lines raw: comment stripping happens at interpretation
    // points (block scalars own their bodies verbatim)
    val allLines = text.linesIterator.toVector
    def hasContent(ls: Vector[String]): Boolean =
      ls.exists(l => stripComment(l).trim.nonEmpty)
    // multi-document split on --- / ... separator lines; a directive
    // section (`%YAML` / `%TAG` lines, legal only before content)
    // applies to the document its `---` opens
    val docs =
      Vector.newBuilder[(Vector[String], Map[String, String])]
    var cur = Vector.newBuilder[String]
    var curHasContent = false
    var curTags = Map.empty[String, String]
    var pendingTags = Map.empty[String, String]
    var nDocs = 0
    def directive(t: String): Unit =
      if (t.startsWith("%YAML")) {
        // ruamel (the reference's parser) rejects major versions it
        // does not know; match that rather than mis-parse
        val ver = t.drop(5).trim.takeWhile(!_.isWhitespace)
        require(ver.startsWith("1."),
          s"unsupported YAML version directive: $t")
      } else if (t.startsWith("%TAG")) {
        t.drop(4).trim.split("\\s+", 2) match {
          case Array(h, p) => pendingTags += (h -> p.trim)
          case _ => ()
        }
      } // other % directives are reserved: ignored, per the spec
    allLines.foreach { l =>
      val t = stripComment(l).trim
      if (t.startsWith("%") && !curHasContent) directive(t)
      else if (t == "---" || t.startsWith("--- ")) {
        val done = cur.result()
        if (hasContent(done) || nDocs > 0) {
          docs += ((done, curTags)); nDocs += 1
        }
        cur = Vector.newBuilder[String]
        curHasContent = false
        curTags = pendingTags
        pendingTags = Map.empty
        // "--- value" inline document start
        if (t.startsWith("--- ")) {
          cur += t.drop(4)
          curHasContent = t.drop(4).trim.nonEmpty
        }
      } else if (t == "...") {
        docs += ((cur.result(), curTags)); nDocs += 1
        cur = Vector.newBuilder[String]
        curHasContent = false
        curTags = Map.empty
      } else {
        cur += l
        if (t.nonEmpty) curHasContent = true
      }
    }
    val tail = cur.result()
    if (hasContent(tail) || nDocs == 0) {
      // directives before a bare document (no `---` — spec-invalid
      // but common): pendingTags never flushed through a separator,
      // so apply them to the tail document rather than dropping them
      docs += ((tail, curTags ++ pendingTags)); nDocs += 1
    }
    val parsed = docs.result()
      .filter { case (ls, _) => hasContent(ls) }
      .map { case (doc, tags) =>
        anchors.clear()
        if (tags.nonEmpty) anchors.update(TagDirectivesKey, tags)
        val (v, rest) = parseBlock(doc, 0, anchors)
        require(!hasContent(rest),
          s"unparsed YAML remainder: ${
            rest.find(l => stripComment(l).trim.nonEmpty)}")
        v
      }
    parsed match {
      case Vector() => null
      case Vector(one) => one
      case many => many
    }
  }

  /** Block scalar (`|` literal / `>` folded; `-` strips the trailing
    * newline, default clips to one): consumes lines more indented
    * than the parent.
    */
  private def blockScalar(marker: String, lines: Vector[String],
                          parentIndent: Int): (String, Vector[String]) = {
    val body = lines.takeWhile(l =>
      l.trim.isEmpty || indentOf(l) > parentIndent)
    val rest = lines.drop(body.length)
    val contentIndent = body.find(_.trim.nonEmpty).map(indentOf)
      .getOrElse(parentIndent + 1)
    val raw = body.map(l =>
      if (l.length >= contentIndent) l.drop(contentIndent) else "")
      .reverse.dropWhile(_.isEmpty).reverse
    val textVal =
      if (marker.startsWith(">")) {
        // folded: adjacent non-empty lines join with spaces; blank
        // lines become newlines
        val sb = new StringBuilder
        var prevBlank = true
        raw.foreach { l =>
          if (l.isEmpty) { sb += '\n'; prevBlank = true }
          else {
            if (!prevBlank) sb += ' '
            sb ++= l
            prevBlank = false
          }
        }
        sb.result()
      } else raw.mkString("\n")
    val chomped =
      if (marker.endsWith("-")) textVal
      else textVal + "\n"
    (chomped, rest)
  }

  private def stripComment(line: String): String = {
    var inS = false; var inD = false
    val b = new StringBuilder
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '\'' && !inD) inS = !inS
      else if (c == '"' && !inS) inD = !inD
      if (c == '#' && !inS && !inD &&
          (i == 0 || line.charAt(i - 1).isWhitespace))
        return b.result()
      b += c
      i += 1
    }
    b.result()
  }

  private def indentOf(line: String): Int =
    line.takeWhile(_ == ' ').length

  private type Anchors = scala.collection.mutable.HashMap[String, Any]

  private val blockScalarMarker = "[|>][+-]?".r

  private def isBlockScalarMarker(s: String): Boolean =
    blockScalarMarker.matches(s)

  /** `stripComment(l).trim.isEmpty` without building the stripped
    * line: only characters up to U+0020 (what `trim` drops), then
    * either the end or a `#` that opens a comment.
    */
  private def isBlank(l: String): Boolean = {
    var i = 0
    while (i < l.length && l.charAt(i) <= ' ') i += 1
    i == l.length ||
      (l.charAt(i) == '#' && (i == 0 || l.charAt(i - 1).isWhitespace))
  }

  /** `lines` from its first non-blank line on. `Vector.dropWhile`
    * copies the whole remainder even when it drops nothing, which made
    * block parsing quadratic; `drop` shares the vector's structure.
    */
  private def dropBlank(lines: Vector[String]): Vector[String] = {
    val i = lines.indexWhere(!isBlank(_))
    if (i < 0) Vector.empty else lines.drop(i)
  }

  private def parseBlock(lines0: Vector[String], indent: Int,
                         anchors: Anchors): (Any, Vector[String]) = {
    val lines = dropBlank(lines0)
    if (lines.isEmpty) return (null, lines)
    val first = stripComment(lines.head)
    val ind = indentOf(first)
    if (ind < indent) return (null, lines0)
    val content = first.trim
    if (content.startsWith("- ") || content == "-") {
      // list at this indent
      val items = Vector.newBuilder[Any]
      var rest = lines
      var go = true
      while (go) {
        rest = dropBlank(rest)
        val head = rest.headOption.map(stripComment)
        if (head.isEmpty || indentOf(head.get) != ind ||
            !(head.get.trim.startsWith("- ") ||
              head.get.trim == "-")) go = false
        else {
          val itemText0 = head.get.trim.drop(1).trim
          // anchor / tag decorators on the item
          val (anchorName, tag, itemText) = splitDecorators(itemText0)
          def keep(v0: Any, r: Vector[String]): Unit = {
            val v = applyTag(tag, v0, anchors)
            anchorName.foreach(anchors.update(_, v))
            items += v; rest = r
          }
          if (itemText.isEmpty) {
            val (v, r) = parseBlock(rest.tail, ind + 1, anchors)
            keep(v, r)
          } else if (isBlockScalarMarker(itemText)) {
            val (v, r) = blockScalar(itemText, rest.tail, ind)
            keep(v, r)
          } else if (isFlowStart(itemText)) {
            val (joined, r) = joinFlow(itemText, rest.tail)
            keep(parseFlowValue(joined, anchors), r)
          } else if (itemText.contains(": ") || itemText.endsWith(":")) {
            // inline map start: re-indent the fragment
            val synthetic = (" " * (ind + 2)) + itemText
            val (v, r) = parseBlock(synthetic +: rest.tail, ind + 2,
              anchors)
            keep(v, r)
          } else {
            val (text, r) = plainContinuation(itemText, rest.tail, ind)
            keep(resolveScalar(text, anchors), r)
          }
        }
      }
      (items.result(), rest)
    } else if (content.contains(": ") || content.endsWith(":") ||
        isComplexKeyStart(content)) {
      val entries = Vector.newBuilder[(Any, Any)]
      // merge keys (`<<:`) collect separately: explicit entries beat
      // merged ones, earlier merge sources beat later (the YAML 1.1
      // merge-key rule ruamel applies)
      val merges = Vector.newBuilder[Any]
      var rest = lines
      var go = true
      while (go) {
        rest = dropBlank(rest)
        val head = rest.headOption.map(stripComment)
        if (head.isEmpty || indentOf(head.get) != ind ||
            head.get.trim.startsWith("- ") ||
            !(head.get.trim.contains(": ") ||
              head.get.trim.endsWith(":") ||
              isComplexKeyStart(head.get.trim))) go = false
        else {
          val l = head.get.trim
          if (isComplexKeyStart(l)) {
            // `? key` block form: the key is a full node (map, list,
            // multi-line scalar), then an optional `: value` line at
            // the same indent
            val keyText = l.drop(1).trim
            val (key, afterKey) =
              if (keyText.isEmpty)
                parseBlock(rest.tail, ind + 1, anchors)
              else {
                val synthetic = (" " * (ind + 2)) + keyText
                parseBlock(synthetic +: rest.tail, ind + 2, anchors)
              }
            rest = dropBlank(afterKey)
            val vhead = rest.headOption.map(stripComment)
            if (vhead.exists(h => indentOf(h) == ind &&
                (h.trim == ":" || h.trim.startsWith(": ")))) {
              val (v, r) = parseEntryValue(
                vhead.get.trim.drop(1).trim, rest.tail, ind, anchors)
              entries += (key -> v); rest = r
            } else entries += (key -> null)
          } else {
            val ci = keyColonIndex(l)
            val key = parseScalar(l.take(ci).trim)
            val (v, r) = parseEntryValue(l.drop(ci + 1).trim,
              rest.tail, ind, anchors)
            if (key == "<<") merges += v else entries += (key -> v)
            rest = r
          }
        }
      }
      val own = entries.result().toMap
      val mergedIn = mergeSources(merges.result())
      (if (mergedIn.isEmpty) own else mergedIn ++ own, rest)
    } else if (isFlowStart(content)) {
      val (joined, r) = joinFlow(content, lines.tail)
      (parseFlowValue(joined, anchors), r)
    } else {
      val (anchorName, tag, text0) = splitDecorators(content)
      val (text, r) = plainContinuation(text0, lines.tail, ind)
      val v = applyTag(tag, resolveScalar(text, anchors), anchors)
      anchorName.foreach(anchors.update(_, v))
      (v, r)
    }
  }

  /** A mapping entry's value fragment (the text after `key:` /
    * `: `): decorators, then nested block / block scalar / flow /
    * plain continuation — the shared machinery for simple and
    * complex-key entries.
    */
  private def parseEntryValue(after0: String, tail: Vector[String],
                              ind: Int, anchors: Anchors)
      : (Any, Vector[String]) = {
    val (anchorName, tag, after) = splitDecorators(after0)
    val (v0, r) =
      if (after.isEmpty) parseBlock(tail, ind + 1, anchors)
      else if (isBlockScalarMarker(after)) blockScalar(after, tail, ind)
      else if (isFlowStart(after)) {
        val (joined, rr) = joinFlow(after, tail)
        (parseFlowValue(joined, anchors), rr)
      } else {
        val (text, rr) = plainContinuation(after, tail, ind)
        (resolveScalar(text, anchors), rr)
      }
    val v = applyTag(tag, v0, anchors)
    anchorName.foreach(anchors.update(_, v))
    (v, r)
  }

  private def isComplexKeyStart(s: String): Boolean =
    s == "?" || s.startsWith("? ")

  /** Resolve `<<:` merge values (a mapping, or a sequence of
    * mappings) into one low-precedence base map: earlier sources win
    * among themselves, so apply them last-to-first.
    */
  private def mergeSources(sources: Vector[Any]): Map[Any, Any] =
    sources.flatMap {
      case m: Map[Any @unchecked, Any @unchecked] => Vector(m)
      case seq: Vector[Any @unchecked] =>
        seq.collect { case m: Map[Any @unchecked, Any @unchecked] => m }
      case _ => Vector.empty
    }.reverse.foldLeft(Map.empty[Any, Any])(_ ++ _)

  /** Multi-line plain scalar: non-blank lines more indented than the
    * parent fold into the scalar with single spaces (the YAML plain
    * multi-line rule ruamel applies). Quoted scalars and aliases do
    * not continue.
    */
  private def plainContinuation(first: String, rest0: Vector[String],
                                parentIndent: Int)
      : (String, Vector[String]) = {
    if (first.startsWith("*") || first.startsWith("\"") ||
        first.startsWith("'")) return (first, rest0)
    var rest = rest0
    var text = first
    var go = true
    while (go && rest.nonEmpty) {
      val c = stripComment(rest.head)
      if (c.trim.nonEmpty && indentOf(c) > parentIndent) {
        text = text + " " + c.trim
        rest = rest.tail
      } else go = false
    }
    (text, rest)
  }

  /** Strip leading `&anchor` / `!tag` decorators (either order, at
    * most one of each — the YAML node-property rule); returns
    * (anchor, tag, remaining text).
    */
  private def splitDecorators(s0: String)
      : (Option[String], Option[String], String) = {
    var anchor: Option[String] = None
    var tag: Option[String] = None
    var s = s0
    var go = true
    while (go) {
      if (s.startsWith("&") && anchor.isEmpty) {
        val (a, r) = splitAnchor(s)
        anchor = a; s = r
      } else if (s.startsWith("!") && tag.isEmpty) {
        val sp = s.indexWhere(_.isWhitespace)
        if (sp < 0) { tag = Some(s); s = "" }
        else { tag = Some(s.take(sp)); s = s.drop(sp).trim }
      } else go = false
    }
    (anchor, tag, s)
  }

  /** Reserved anchors-map key carrying the current document's `%TAG`
    * handle declarations (an anchor name cannot contain a NUL,
    * so no document can collide with it).
    */
  private val TagDirectivesKey = "\u0000%TAG"

  private val CoreTagPrefix = "tag:yaml.org,2002:"

  /** Expand a tag token through handle resolution. When the token
    * RESOLVES (verbatim `!<uri>`, the `!!` secondary handle — whose
    * default prefix is the core schema — or a `%TAG`-declared
    * handle), the resolved URI is authoritative: core-schema URIs
    * canonicalize to `!!name` (so they coerce), anything else
    * becomes a verbatim token applyTag ignores — which also means a
    * `%TAG !!` redirection AWAY from the core schema correctly
    * disables `!!int`-style coercion. Unresolvable tokens
    * (undeclared named handles, the default `!` local handle)
    * return unchanged and take the unknown-tag pass-through.
    */
  private def expandTag(tag: String, anchors: Anchors): String = {
    val handles = anchors.get(TagDirectivesKey) match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, String]]
      case _ => Map.empty[String, String]
    }
    val resolved: Option[String] =
      if (tag.startsWith("!<") && tag.endsWith(">"))
        Some(tag.substring(2, tag.length - 1))
      else if (tag.startsWith("!!"))
        Some(handles.getOrElse("!!", CoreTagPrefix) + tag.drop(2))
      else {
        val second = tag.indexOf('!', 1)
        if (second > 0) {
          val h = tag.take(second + 1)
          handles.get(h).map(_ + tag.drop(second + 1))
        } else handles.get("!").map(_ + tag.drop(1))
      }
    resolved match {
      case Some(full) if full.startsWith(CoreTagPrefix) =>
        "!!" + full.drop(CoreTagPrefix.length)
      case Some(full) => s"!<$full>"
      case None => tag
    }
  }

  /** Core-schema tag coercions; unknown/application tags are ignored
    * and the parsed value passes through (enough for structural
    * analysis — the reference gets full tag semantics from ruamel,
    * source.py:242-248).
    */
  private def applyTag(tag0: Option[String], v: Any,
                       anchors: Anchors): Any = {
    val tag = tag0.map(expandTag(_, anchors))
    tag match {
    case None => v
    case Some("!!str") => if (v == null) "" else v.toString
    case Some("!!int") => v match {
      case s: String =>
        try s.trim.toLong catch { case _: NumberFormatException => s }
      case other => other
    }
    case Some("!!float") => v match {
      case s: String =>
        try s.trim.toDouble catch { case _: NumberFormatException => s }
      case l: Long => l.toDouble
      case other => other
    }
    case Some("!!bool") => v match {
      case s: String => s.trim.toLowerCase match {
        case "true" | "yes" | "on" => true
        case "false" | "no" | "off" => false
        case _ => s
      }
      case other => other
    }
    case Some("!!null") => null
    case Some(_) => v
    }
  }

  /** First colon that terminates the key (skips quoted keys). */
  private def keyColonIndex(l: String): Int = {
    if (l.isEmpty) return -1
    if (l.head == '"' || l.head == '\'') {
      val close = l.indexOf(l.head, 1)
      if (close > 0) {
        val ci = l.indexOf(':', close)
        if (ci > 0) return ci
      }
    }
    l.indexOf(':')
  }

  private def isFlowStart(s: String): Boolean =
    s.startsWith("{") || s.startsWith("[")

  /** Bracket balance outside quotes — positive while a flow
    * collection is still open (supports multi-line flow).
    */
  private def flowBalance(s: String): Int = {
    var bal = 0
    var inS = false
    var inD = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'' && !inD) inS = !inS
      else if (c == '"' && !inS) inD = !inD
      else if (!inS && !inD) {
        if (c == '{' || c == '[') bal += 1
        else if (c == '}' || c == ']') bal -= 1
      }
      i += 1
    }
    bal
  }

  /** Join continuation lines of a flow collection that spans lines
    * until the brackets balance; returns (joined, remaining lines).
    * Comments on continuation lines are stripped (flow collections
    * cannot contain `#` outside quotes, where stripComment respects
    * quoting already).
    */
  private def joinFlow(first: String, rest0: Vector[String])
      : (String, Vector[String]) = {
    var joined = first
    var rest = rest0
    while (flowBalance(joined) > 0 && rest.nonEmpty) {
      joined = joined + " " + stripComment(rest.head).trim
      rest = rest.tail
    }
    (joined, rest)
  }

  /** `&name rest` → (Some(name), rest); plain text passes through. */
  private def splitAnchor(s: String): (Option[String], String) =
    if (s.startsWith("&")) {
      val sp = s.indexWhere(_.isWhitespace)
      if (sp < 0) (Some(s.drop(1)), "")
      else (Some(s.substring(1, sp)), s.substring(sp).trim)
    } else (None, s)

  /** Scalar position: alias lookup or core-schema scalar. */
  private def resolveScalar(s: String, anchors: Anchors): Any =
    if (s.startsWith("*")) {
      val name = s.drop(1).trim
      require(anchors.contains(name), s"unknown YAML alias *$name")
      anchors(name)
    } else parseScalar(s)

  /** Single-line flow collection: `{k: v, ...}` / `[a, b, ...]` with
    * nesting, quoting, anchors and aliases.
    */
  private def parseFlowValue(s: String, anchors: Anchors): Any = {
    val p = new FlowParser(s, anchors)
    val v = p.value()
    p.skipWs()
    require(p.eof, s"trailing flow content in: $s")
    v
  }

  private final class FlowParser(s: String, anchors: Anchors) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!eof && s.charAt(pos).isWhitespace) pos += 1

    def value(): Any = {
      skipWs()
      require(!eof, "unexpected end of flow")
      s.charAt(pos) match {
        case '{' => map()
        case '[' => seq()
        case '"' | '\'' => quoted()
        case '*' =>
          val name = bare(stopAtColon = false)
          resolveScalar(name, anchors)
        case '&' =>
          val tok = bare(stopAtColon = false)
          val (name, restText) = splitAnchor(tok)
          val v = if (restText.isEmpty) value()
                  else parseScalar(restText)
          name.foreach(anchors.update(_, v))
          v
        case '!' =>
          // tag in flow position: read the tag token, then the value
          val start = pos
          while (!eof && !s.charAt(pos).isWhitespace &&
                 !",]}".contains(s.charAt(pos))) pos += 1
          val tag = s.substring(start, pos)
          skipWs()
          if (eof || ",]}".contains(s.charAt(pos)))
            applyTag(Some(tag), null, anchors)
          else applyTag(Some(tag), value(), anchors)
        case _ => parseScalar(bare(stopAtColon = false))
      }
    }

    private def map(): Map[Any, Any] = {
      pos += 1 // {
      val b = Vector.newBuilder[(Any, Any)]
      val merges = Vector.newBuilder[Any]
      // merge keys apply in flow context too (same precedence rule
      // as block mappings: explicit > earlier merge source > later)
      def result(): Map[Any, Any] = {
        val own = b.result().toMap
        val merged = mergeSources(merges.result())
        if (merged.isEmpty) own else merged ++ own
      }
      skipWs()
      if (!eof && s.charAt(pos) == '}') { pos += 1; return result() }
      while (true) {
        skipWs()
        val k = s.charAt(pos) match {
          case '"' | '\'' => quoted()
          case _ => parseScalar(bare(stopAtColon = true))
        }
        skipWs()
        require(!eof && s.charAt(pos) == ':',
          s"expected : in flow map at $pos")
        pos += 1
        val v = value()
        if (k == "<<") merges += v else b += (k -> v)
        skipWs()
        require(!eof, "unterminated flow map")
        s.charAt(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; return result()
          case c => throw new IllegalArgumentException(
            s"expected , or } in flow map, got $c")
        }
      }
      result()
    }

    private def seq(): Vector[Any] = {
      pos += 1 // [
      val b = Vector.newBuilder[Any]
      skipWs()
      if (!eof && s.charAt(pos) == ']') { pos += 1; return b.result() }
      while (true) {
        b += value()
        skipWs()
        require(!eof, "unterminated flow sequence")
        s.charAt(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; return b.result()
          case c => throw new IllegalArgumentException(
            s"expected , or ] in flow sequence, got $c")
        }
      }
      b.result()
    }

    private def quoted(): String = {
      val q = s.charAt(pos)
      pos += 1
      val b = new StringBuilder
      while (!eof && s.charAt(pos) != q) {
        // YAML single-quote escape: '' → '
        if (q == '\'' && s.charAt(pos) == '\'' &&
            pos + 1 < s.length && s.charAt(pos + 1) == '\'') {
          b += '\''; pos += 1
        } else b += s.charAt(pos)
        pos += 1
      }
      require(!eof, "unterminated quoted string")
      pos += 1
      b.result()
    }

    private def bare(stopAtColon: Boolean): String = {
      val start = pos
      while (!eof && !",]}".contains(s.charAt(pos)) &&
             !(stopAtColon && s.charAt(pos) == ':'))
        pos += 1
      s.substring(start, pos).trim
    }
  }

  /** YAML 1.1 sexagesimal number forms (`1:30:00` = 5400), which
    * ruamel — and therefore the reference (source.py:242-248) —
    * resolves as ints/floats: sign, base-60 digit groups (later
    * groups capped at 59), optional fraction on the last group.
    */
  private val sexagesimalInt =
    "[-+]?[0-9][0-9_]*(:[0-5]?[0-9])+".r
  private val sexagesimalFloat =
    "[-+]?[0-9][0-9_]*(:[0-5]?[0-9])+\\.[0-9_]*".r

  private def parseSexagesimal(t: String): Any = {
    val neg = t.startsWith("-")
    val body = t.stripPrefix("-").stripPrefix("+").replace("_", "")
    val parts = body.split(':')
    if (body.contains('.')) {
      val v = parts.foldLeft(0.0)((acc, p) => acc * 60 + p.toDouble)
      if (neg) -v else v
    } else {
      val v = parts.foldLeft(0L)((acc, p) => acc * 60 + p.toLong)
      if (neg) -v else v
    }
  }

  private val yamlFloat =
    "[-+]?(\\d+\\.?\\d*([eE][-+]?\\d+)?|\\.\\d+([eE][-+]?\\d+)?)".r

  /** YAML core-schema scalar resolution (plus the 1.1 sexagesimals
    * ruamel keeps accepting).
    */
  def parseScalar(s: String): Any = {
    val t = s.trim
    if (t.length >= 2 && ((t.head == '"' && t.last == '"') ||
        (t.head == '\'' && t.last == '\'')))
      return t.substring(1, t.length - 1)
    t match {
      case "" | "~" | "null" | "Null" | "NULL" => null
      case "true" | "True" | "TRUE" => true
      case "false" | "False" | "FALSE" => false
      case _ if sexagesimalInt.matches(t) ||
          sexagesimalFloat.matches(t) =>
        parseSexagesimal(t)
      case _ =>
        try t.toLong
        catch {
          case _: NumberFormatException =>
            try { if (yamlFloat.matches(t)) t.toDouble else t }
            catch { case _: NumberFormatException => t }
        }
    }
  }

  // --------------------------------------------------------- top level

  private def namedFormat(name: String): Format = name match {
    case "auto" => UnknownFormat
    case "csv" => CsvFormat
    case "json" => JsonFormat
    case "jsonl" => JsonLinesFormat
    case "yaml" => YamlFormat
    case other =>
      throw new IllegalArgumentException(s"unknown format: $other")
  }

  /** Detect everything from the head sample of a file, honoring the
    * manual overrides in `opts`; warns on stderr for low-confidence
    * encoding detections (source.py:137-145). A directory or a glob is
    * sampled at its first data file.
    */
  def detect(path: String, opts: SourceOptions = SourceOptions())
      : Detected = {
    val sampleBytes = readSample(path, opts.sampleBytes)
    val (enc, conf) =
      if (opts.encoding == "auto") {
        val (e, c) = detectEncodingConfidence(sampleBytes)
        if (c < 0.9)
          System.err.println(
            f"warning: low confidence ($c%.2f) in detected encoding " +
              s"${e.name()} of $path")
        (e, c)
      } else (Charset.forName(opts.encoding), 1.0)
    val sample = decode(sampleBytes, enc, strict = false)
    val fmt =
      if (opts.format == "auto") detectFormat(sample)
      else namedFormat(opts.format)
    val dialect = fmt match {
      case CsvFormat => Some(dialectFor(sample, opts))
      case _ => None
    }
    Detected(enc, conf, fmt, dialect)
  }

  private def dialectFor(sample: String, opts: SourceOptions)
      : CsvDialect =
    opts.csvDelimiter match {
      case Some(d) => CsvDialect(d, opts.csvQuote.getOrElse('"'))
      case None =>
        val sniffed = sniffCsvDialect(sample)
        opts.csvQuote.fold(sniffed)(q => sniffed.copy(quote = q))
    }

  private def readSample(path: String, limit: Int): Array[Byte] = {
    val file = Paths.get(path)
    val in =
      if (Files.isRegularFile(file)) Files.newInputStream(file)
      else PartFiles.openFirst(path)
    try in.readNBytes(limit)
    finally in.close()
  }

  /** Decode with the reference's strictness contract: strict mode
    * raises on invalid sequences, lenient mode substitutes the
    * replacement character (--no-encoding-strict).
    */
  private def decode(bytes: Array[Byte], enc: Charset,
                     strict: Boolean): String = {
    val dec = enc.newDecoder()
      .onMalformedInput(
        if (strict) CodingErrorAction.REPORT
        else CodingErrorAction.REPLACE)
      .onUnmappableCharacter(
        if (strict) CodingErrorAction.REPORT
        else CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
  }

  /** Driver-side load into the dynamic value model (reference
    * lifecycle for a single file). A directory or a glob loads as one
    * table of part files, in sorted order: JSON-lines parts concatenate
    * their records, CSV parts their rows (every part's header must
    * equal the first part's); other formats must be passed as
    * separate files.
    */
  def load(path: String,
           opts: SourceOptions = SourceOptions()): Any = {
    val d = detect(path, opts)
    def text(bytes: Array[Byte]): String =
      decode(bytes, d.encoding, strict = opts.encodingStrict)
    if (!Files.isRegularFile(Paths.get(path))) {
      val parts = PartFiles.list(path)
        .map(p => p.toString -> text(PartFiles.read(p)))
      return d.format match {
        case JsonLinesFormat => parts.flatMap { case (_, t) =>
          jsonLines(t, opts.jsonStrict) }
        case CsvFormat =>
          val records = parts.map { case (name, t) =>
            name -> csvRecords(t, d.dialect.get) }
          val (first, firstRecords) = records.head
          val header = firstRecords.headOption
          records.flatMap { case (name, rs) =>
            if (rs.headOption != header)
              throw new IllegalArgumentException(
                s"CSV header of $name differs from that of $first")
            rs.drop(1)
          }
        case other =>
          throw new IllegalArgumentException(
            s"$path names several files and was detected as $other; " +
              "only JSON lines and CSV parts load as one table, so " +
              "pass the files separately")
      }
    }
    val whole = text(Files.readAllBytes(Paths.get(path)))
    d.format match {
      case JsonFormat => graft.tools.Json.parse(whole, opts.jsonStrict)
      case JsonLinesFormat => jsonLines(whole, opts.jsonStrict)
      case CsvFormat => parseCsv(whole, d.dialect.get)
      case YamlFormat => parseYaml(whole)
      case XmlFormat =>
        throw new NotImplementedError("xml detected but not supported")
      case UnknownFormat =>
        throw new IllegalArgumentException("unable to guess data format")
    }
  }

  private def jsonLines(text: String, strict: Boolean): Vector[Any] =
    text.linesIterator.filter(_.trim.nonEmpty)
      .map(graft.tools.Json.parse(_, strict)).toVector

  /** Load many files as a sources list (ui/cli.py:240-249). */
  def loadAll(paths: Seq[String],
              opts: SourceOptions = SourceOptions()): Any =
    if (paths.length == 1) load(paths.head, opts)
    else VSources(paths.toVector.map(load(_, opts)))

  /** Distributed read: detection on the driver's head sample, full
    * scan on executors via the native readers, which get `path` as
    * given (a file, a directory of part files or a glob). CSV keeps
    * all columns as strings (downstream inference owns typing) and
    * skips the header per the reference quirk.
    */
  def sparkRead(spark: SparkSession, path: String,
                opts: SourceOptions = SourceOptions()): DataFrame = {
    val d = detect(path, opts)
    d.format match {
      case JsonFormat =>
        spark.read
          .option("encoding", d.encoding.name())
          .option("multiLine", true)
          .json(path)
      case JsonLinesFormat =>
        // Spark's native shape: one record per line, splittable scans
        spark.read
          .option("encoding", d.encoding.name())
          .json(path)
      case CsvFormat =>
        spark.read
          .option("header", true) // first line always consumed
          .option("inferSchema", false) // strings; inference is ours
          .option("sep", d.dialect.get.delimiter.toString)
          .option("quote", d.dialect.get.quote.toString)
          .option("encoding", d.encoding.name())
          .csv(path)
      case YamlFormat =>
        // no native YAML source: driver converts, executors analyze
        throw new UnsupportedOperationException(
          "YAML is driver-side only; use Source.load + TreeAnalyzer")
      case XmlFormat =>
        throw new NotImplementedError("xml detected but not supported")
      case UnknownFormat =>
        throw new IllegalArgumentException("unable to guess data format")
    }
  }
}

/** The data files of a multi-file table: every file, in sorted path
  * order, that a directory (searched depth first) or a glob names.
  * Names starting with `_` or `.` (`_SUCCESS`, checksum files) are
  * skipped, as Spark's file listing skips them. Kept apart from
  * [[Source]] so that the Hadoop classes it uses, and the jars they
  * come from, load only when a table of part files is read.
  */
private object PartFiles {
  def list(path: String): Vector[HPath] = {
    val pattern = new HPath(path)
    val fs = pattern.getFileSystem(new Configuration())
    def data(s: FileStatus): Boolean = {
      val name = s.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
    def walk(found: Array[FileStatus]): Vector[HPath] =
      found.filter(data).sortBy(_.getPath.toString).toVector.flatMap { s =>
        if (s.isDirectory) walk(fs.listStatus(s.getPath))
        else Vector(s.getPath)
      }
    val files = Option(fs.globStatus(pattern)).map(walk)
      .getOrElse(Vector.empty)
    if (files.isEmpty) throw new NoSuchFileException(path, null,
      "no data file in this directory or glob")
    files
  }

  def open(file: HPath): InputStream =
    file.getFileSystem(new Configuration()).open(file)

  def openFirst(path: String): InputStream = open(list(path).head)

  def read(file: HPath): Array[Byte] = {
    val in = open(file)
    try in.readAllBytes() finally in.close()
  }
}
