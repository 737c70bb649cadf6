package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.VTuple

/** Ports of the reference's source-detection spec
  * (structa tests/test_source.py:76-236).
  */
class SourceSpec extends AnyFunSuite with TempDirs {
  import Source._

  test("format detection: json by leading bracket/brace") {
    assert(detectFormat("[1, 2, 3]") == JsonFormat)
    assert(detectFormat("""  {"a": 1}""") == JsonFormat)
  }

  test("format detection: xml detected (then rejected at load)") {
    assert(detectFormat("<?xml version=\"1.0\"?><r/>") == XmlFormat)
    assert(detectFormat("<root>...</root>") == XmlFormat)
  }

  test("format detection: csv vs yaml line scoring") {
    val csv = "name,age,city\n\"Smith, J\",40,London\n\"Jones, B\",35,Leeds\ntrailing,1,2\n"
    assert(detectFormat(csv) == CsvFormat)
    val yaml = "config:\n  host: example.com\n  port: 8080\nitems:\n  - one\n  - two\n"
    assert(detectFormat(yaml) == YamlFormat)
    assert(detectFormat("plainword\nanotherword\n") == UnknownFormat)
  }

  test("encoding detection: UTF-8 BOM, UTF-16 BOMs, latin-1 fallback") {
    assert(detectEncoding(Array(0xEF, 0xBB, 0xBF, 'h', 'i')
      .map(_.toByte)) == StandardCharsets.UTF_8)
    assert(detectEncoding(Array(0xFF, 0xFE, 'h', 0)
      .map(_.toByte)) == StandardCharsets.UTF_16LE)
    assert(detectEncoding("héllo wörld".getBytes("UTF-8")) ==
      StandardCharsets.UTF_8)
    assert(detectEncoding("héllo".getBytes("ISO-8859-1")) ==
      StandardCharsets.ISO_8859_1)
  }

  test("csv dialect sniffing: semicolons and quotes") {
    val sample = "h1;h2;h3\na;b;c\n\"d;d\";e;f\n1;2;3\n"
    val d = sniffCsvDialect(sample)
    assert(d.delimiter == ';')
    assert(d.quote == '"')
  }

  test("csv parse: header ALWAYS skipped, values stay strings " +
      "(source.py:237-241)") {
    val rows = parseCsv("a,b\n1,2\n\"x,y\",3\n", CsvDialect(',', '"'))
    assert(rows == Vector(
      VTuple(Vector("1", "2")), VTuple(Vector("x,y", "3"))))
  }

  test("csv parse: quoted fields with embedded quotes and newlines") {
    val rows = parseCsv(
      "h\n\"say \"\"hi\"\"\"\n\"line1\nline2\"\n", CsvDialect(',', '"'))
    assert(rows == Vector(
      VTuple(Vector("say \"hi\"")), VTuple(Vector("line1\nline2"))))
  }

  test("yaml subset: nested maps, lists, scalars") {
    val y =
      """# comment
        |name: test
        |count: 42
        |ratio: 0.5
        |flag: true
        |nothing: null
        |nested:
        |  inner: value
        |  deep:
        |    x: 1
        |items:
        |  - 10
        |  - 20
        |records:
        |  - id: 1
        |    label: a
        |  - id: 2
        |    label: b
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    assert(v("name") == "test")
    assert(v("count") == 42L)
    assert(v("ratio") == 0.5)
    assert(v("flag") == true)
    assert(v("nothing") == null)
    assert(v("nested").asInstanceOf[Map[Any, Any]]("deep")
      .asInstanceOf[Map[Any, Any]]("x") == 1L)
    assert(v("items") == Vector(10L, 20L))
    val recs = v("records").asInstanceOf[Vector[Any]]
    assert(recs.length == 2)
    assert(recs(0).asInstanceOf[Map[Any, Any]]("label") == "a")
  }

  test("unicode CSV end-to-end (test_source.py:22-38)") {
    val f = Files.createTempFile("names", ".csv")
    val content = "Name,Nationality\n" +
      "José,España\nFrançois,France\nMüller,Deutschland\n" +
      "Σωκράτης,Ελλάδα\n"
    Files.write(f, content.getBytes("UTF-8"))
    val d = detect(f.toString)
    assert(d.format == CsvFormat)
    assert(d.encoding == StandardCharsets.UTF_8)
    val data = load(f.toString).asInstanceOf[Vector[Any]]
    assert(data.length == 4)
    assert(data.head == VTuple(Vector("José", "España")))
    Files.delete(f)
  }

  test("unknown format raises") {
    val f = Files.createTempFile("mystery", ".bin")
    Files.write(f, "wat\nwat\nwat\n".getBytes)
    intercept[IllegalArgumentException](load(f.toString))
    Files.delete(f)
  }

  // ---- chardet-class encoding detection (test_source.py:54-75) ----

  test("encoding confidence: 8-bit fallbacks warn (< 0.9)") {
    // latin-1 names (test_source.py fixture rows) → ISO-8859-1, low
    // confidence like chardet's
    val latin1 = "José,España\nFrançois,France\nMüller,Deutschland\n"
      .getBytes("ISO-8859-1")
    val (e1, c1) = detectEncodingConfidence(latin1)
    assert(e1 == StandardCharsets.ISO_8859_1)
    assert(c1 < 0.9)
    // cp1252-specific C1 range (’ = 0x92) → windows-1252
    val cp1252 = "it’s fine".getBytes("windows-1252")
    val (e2, c2) = detectEncodingConfidence(cp1252)
    assert(e2.name == "windows-1252")
    assert(c2 < 0.9)
    // multi-byte UTF-8 is near-certain, pure ASCII certain
    assert(detectEncodingConfidence("héllo".getBytes("UTF-8"))._2 >= 0.9)
    assert(detectEncodingConfidence("hello".getBytes("UTF-8"))._2 == 1.0)
  }

  test("encoding: CJK multi-byte families detect with confidence " +
      ">= 0.9 (the chardet capability of source.py:137-145)") {
    val jp = ("日本語のテキストです。構造解析エンジンのテスト" +
      "データを生成します。") * 4
    val (sj, sjc) = detectEncodingConfidence(jp.getBytes("Shift_JIS"))
    assert(sj.name == "Shift_JIS", sj)
    assert(sjc >= 0.9, sjc)
    val (eu, euc) = detectEncodingConfidence(jp.getBytes("EUC-JP"))
    assert(eu.name == "EUC-JP", eu)
    assert(euc >= 0.9, euc)
    val zh = ("中文文本用于编码检测这是一个测试数据处理引擎" +
      "支持大规模分析。") * 4
    val (gb, gbc) = detectEncodingConfidence(zh.getBytes("GBK"))
    assert(gb.name == "GBK", gb)
    assert(gbc >= 0.9, gbc)
    // a truncated trailing multi-byte character must not break it
    val cut = jp.getBytes("EUC-JP").dropRight(1)
    assert(detectEncodingConfidence(cut)._1.name == "EUC-JP")
    // Korean (hangul-dominant prose) vs the overlapping GB zones
    val kr = ("한국어 텍스트 인코딩 감지 테스트 데이터 입니다 " +
      "대규모 분석 엔진") * 4
    val (ek, ekc) = detectEncodingConfidence(kr.getBytes("EUC-KR"))
    assert(ek.name == "EUC-KR", ek)
    assert(ekc >= 0.9, ekc)
    // sparse accents stay Latin (density gate): see 8-bit fallback test
  }

  test("encoding: Big5, ISO-2022-JP, and the uncorroborated-GBK cap") {
    // traditional Chinese round 4: Big5 separates from GBK on
    // trail-byte structure (Big5 uses the 0x40-0x7E half of the trail
    // space, EUC-style GB bytes never do)
    val tw = ("繁體中文編碼偵測測試資料，結構分析引擎支援大規模" +
      "處理。") * 4
    val (b5, b5c) = detectEncodingConfidence(tw.getBytes("Big5"))
    assert(b5.name == "Big5", b5)
    assert(b5c >= 0.9, b5c)
    // ISO-2022-JP is 7-bit but escape-signatured (ESC $ B)
    val jp = "日本語のテキストです。テストデータ。"
    val (jis, jisc) =
      detectEncodingConfidence(jp.getBytes("ISO-2022-JP"))
    assert(jis.name == "ISO-2022-JP", jis)
    assert(jisc >= 0.9, jisc)
    // plain ASCII with no escapes is still UTF-8/ASCII
    assert(detectEncodingConfidence(
      "plain ascii text".getBytes("UTF-8"))._1.name == "UTF-8")
    // a wall of even-run cp1251 Cyrillic can strict-decode as GBK
    // hanzi; the uncorroborated CJK candidate is capped at 0.85
    // (ADVICE round 3) and the frequency-scored Cyrillic probe
    // outbids it with the RIGHT answer
    val ru = "шифрование" * 12 // even byte runs, no spaces
    val (ruCs, ruC) = detectEncodingConfidence(ru.getBytes("windows-1251"))
    assert(ruCs.name == "windows-1251", s"$ruCs $ruC")
    assert(ruC >= 0.9, ruC)
  }

  test("encoding: single-byte Cyrillic tables separate by letter " +
      "frequency") {
    val ru = ("шифрование данных и обработка текста для анализа " +
      "структуры больших наборов") * 2
    Seq("windows-1251", "KOI8-R", "ISO-8859-5").foreach { enc =>
      val (cs, conf) = detectEncodingConfidence(ru.getBytes(enc))
      assert(cs.name == enc, s"$enc -> $cs ($conf)")
      assert(conf >= 0.9, s"$enc confidence $conf")
    }
    // the latin-1 accent fixture stays under the density gate (see
    // the 8-bit fallback test) — no Cyrillic false positives on
    // accented European text
  }

  test("encoding: Greek, Hebrew, Arabic, Thai single-byte tables " +
      "via letter frequency") {
    // family-correct with ≥0.9 confidence AND the detected table
    // decodes the bytes back to the original text (ISO-8859-7 and
    // cp1253 lay lowercase Greek out identically, so asserting the
    // exact table would be over-constrained — chardet merges them
    // the same way)
    val fixtures = Seq(
      ("η επεξεργασία δεδομένων και η ανάλυση κειμένου για " +
        "μεγάλα σύνολα εγγράφων", Seq("ISO-8859-7", "windows-1253")),
      ("עיבוד נתונים וניתוח טקסט עבור מערכות גדולות של מידע " +
        "וכלים לניתוח מבנה", Seq("windows-1255")),
      ("معالجة البيانات وتحليل النصوص للمجموعات الكبيرة من " +
        "المعلومات والوثائق", Seq("windows-1256")),
      ("การประมวลผลข้อมูลและการวิเคราะห์ข้อความสำหรับชุดข้อมูลขนาดใหญ่",
        Seq("TIS-620")))
    fixtures.foreach { case (text, encs) =>
      encs.foreach { enc =>
        val bytes = text.getBytes(enc)
        // fixture sanity: the text must round-trip its own encoding
        assert(new String(bytes, enc) == text, s"fixture lossy: $enc")
        val (cs, conf) = detectEncodingConfidence(bytes)
        assert(encs.contains(cs.name), s"$enc -> $cs ($conf)")
        assert(conf >= 0.9, s"$enc confidence $conf")
        assert(new String(bytes, cs) == text,
          s"$enc detected as $cs but decodes differently")
      }
    }
  }

  test("encoding: Turkish ISO-8859-9 via Latin-5-specific letters; " +
      "no false positives on cp1252 accents") {
    val tr = ("büyük veri kümeleri için metin işleme ve yapısal " +
      "çözümleme çalışması ışığında") * 2
    val (cs, conf) = detectEncodingConfidence(tr.getBytes("ISO-8859-9"))
    assert(cs.name == "ISO-8859-9", s"$cs ($conf)")
    assert(conf >= 0.9, conf)
    // French/German accent text must NOT read as Turkish: é/ä/ß
    // never land on the Latin-5-specific letters
    val fr = ("la qualité des données est évaluée à chaque étape " +
      "de la chaîne de traitement complète") * 2
    val (fcs, _) = detectEncodingConfidence(fr.getBytes("ISO-8859-1"))
    assert(fcs.name != "ISO-8859-9", fcs)
    val de = ("die Qualität der Daten wird in jedem Schritt geprüft " +
      "und zusammengeführt größtenteils") * 2
    val (dcs, _) = detectEncodingConfidence(de.getBytes("ISO-8859-1"))
    assert(dcs.name != "ISO-8859-9", dcs)
  }

  test("encoding: BOM-less UTF-16 via NUL-parity heuristic") {
    val textLe = "name,nationality\nJose,Spain\n"
      .getBytes(StandardCharsets.UTF_16LE)
    val (le, lc) = detectEncodingConfidence(textLe)
    assert(le == StandardCharsets.UTF_16LE)
    assert(lc < 0.9) // heuristic, warns like chardet sub-0.9
    val textBe = "name,nationality\nJose,Spain\n"
      .getBytes(StandardCharsets.UTF_16BE)
    assert(detectEncodingConfidence(textBe)._1 ==
      StandardCharsets.UTF_16BE)
  }

  test("encoding: UTF-32 BOMs out-prioritize the UTF-16LE prefix") {
    val utf32le = Array[Byte](0xFF.toByte, 0xFE.toByte, 0, 0, 'h', 0,
      0, 0)
    assert(detectEncodingConfidence(utf32le)._1.name == "UTF-32LE")
  }

  test("manual encoding + strict raises on bad bytes " +
      "(test_source.py:63-66)") {
    val f = Files.createTempFile("latin1", ".csv")
    Files.write(f, "h\nJosé,España\nFrançois,France\n"
      .getBytes("ISO-8859-1"))
    // utf-8 forced on latin-1 bytes: strict decode must throw
    intercept[Exception](load(f.toString,
      SourceOptions(encoding = "utf-8", encodingStrict = true)))
    // lenient decode substitutes replacement chars instead
    val lenient = load(f.toString,
      SourceOptions(encoding = "utf-8", encodingStrict = false))
    assert(lenient.asInstanceOf[Vector[Any]].nonEmpty)
    Files.delete(f)
  }

  test("manual format override raises on mismatched data " +
      "(test_source.py:78-86)") {
    val f = Files.createTempFile("notjson", ".csv")
    Files.write(f, "a,b\n1,2\n".getBytes("UTF-8"))
    intercept[Exception](load(f.toString,
      SourceOptions(format = "json")))
    Files.delete(f)
  }

  test("manual csv dialect override (test_source.py:112-116)") {
    val f = Files.createTempFile("weird", ".csv")
    Files.write(f, "root:x:0\ndaemon:y:1\nbin:z:2\n".getBytes("UTF-8"))
    val d = detect(f.toString, SourceOptions(format = "csv",
      csvDelimiter = Some(':'), csvQuote = Some('\'')))
    assert(d.dialect.contains(CsvDialect(':', '\'')))
    val rows = load(f.toString, SourceOptions(format = "csv",
      csvDelimiter = Some(':'), csvQuote = Some('\'')))
    assert(rows.asInstanceOf[Vector[Any]].head ==
      VTuple(Vector("daemon", "y", "1")))
    Files.delete(f)
  }

  test("sample limit honored (test_source.py:41-51)") {
    val f = Files.createTempFile("sample", ".bin")
    Files.write(f, ("x" * 2000 + "\ny,z\n").getBytes("UTF-8"))
    // tiny sample: detection only reads sampleBytes of the head
    val d = detect(f.toString, SourceOptions(sampleBytes = 1000))
    assert(d.encoding == StandardCharsets.UTF_8)
    Files.delete(f)
  }

  // ---- YAML: flow collections, anchors, multi-doc ----

  test("yaml flow collections: inline maps and sequences") {
    val y =
      """top: {a: 1, b: [1, 2, 3], c: {d: true}}
        |list: [x, 'y z', {k: v}]
        |empty_map: {}
        |empty_list: []
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    val top = v("top").asInstanceOf[Map[Any, Any]]
    assert(top("a") == 1L)
    assert(top("b") == Vector(1L, 2L, 3L))
    assert(top("c").asInstanceOf[Map[Any, Any]]("d") == true)
    val list = v("list").asInstanceOf[Vector[Any]]
    assert(list(0) == "x")
    assert(list(1) == "y z")
    assert(list(2).asInstanceOf[Map[Any, Any]]("k") == "v")
    assert(v("empty_map") == Map.empty)
    assert(v("empty_list") == Vector.empty)
  }

  test("yaml multi-line flow collections") {
    val y =
      """spec: {a: 1,
        |  b: [1, 2,
        |    3],
        |  c: "x, y"}
        |next: ok
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    val spec = v("spec").asInstanceOf[Map[Any, Any]]
    assert(spec("a") == 1L)
    assert(spec("b") == Vector(1L, 2L, 3L))
    assert(spec("c") == "x, y")
    assert(v("next") == "ok")
  }

  test("yaml anchors and aliases") {
    val y =
      """defaults: &def
        |  host: example.com
        |  port: 8080
        |main: *def
        |alt:
        |  - &x 42
        |  - *x
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    assert(v("main") == v("defaults"))
    assert(v("main").asInstanceOf[Map[Any, Any]]("port") == 8080L)
    assert(v("alt") == Vector(42L, 42L))
  }

  test("yaml block scalars: literal and folded with chomping") {
    val y =
      """lit: |
        |  line one
        |  line two
        |
        |  line four
        |strip: |-
        |  no trailing
        |folded: >
        |  a b
        |  c d
        |
        |  e
        |after: 1
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    assert(v("lit") == "line one\nline two\n\nline four\n")
    assert(v("strip") == "no trailing")
    assert(v("folded") == "a b c d\ne\n")
    assert(v("after") == 1L)
  }

  test("yaml: ' #' inside block scalars is content, not a comment") {
    val y =
      """lit: |
        |  value # kept
        |  a #also kept
        |# a real comment line
        |after: 2 # stripped
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    assert(v("lit") == "value # kept\na #also kept\n")
    assert(v("after") == 2L)
  }

  test("yaml 1.1 sexagesimal scalars resolve like ruamel") {
    val y =
      """a: 1:30:00
        |b: -2:15
        |c: +0:59
        |d: 190:20:30.5
        |e: 1:60
        |f: 12:34:56:78
        |g: "1:30:00"
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    assert(v("a") == 5400L)
    assert(v("b") == -135L)
    assert(v("c") == 59L)
    assert(v("d") == 190.0 * 3600 + 20 * 60 + 30.5)
    // 60 in a later group is out of range — stays a string
    assert(v("e") == "1:60")
    // 78 > 59 likewise
    assert(v("f") == "12:34:56:78")
    // quoting always suppresses resolution
    assert(v("g") == "1:30:00")
  }

  test("yaml tags: core-schema coercions, unknown tags ignored") {
    val y =
      """a: !!str 5
        |b: !!int 7
        |c: !!float 2
        |d: !!bool yes
        |e: !custom thing
        |f: !!null x
        |g: &x !!str 9
        |h: *x
        |lst:
        |  - !!str 1
        |  - !other 2
        |flow: [!!str 3, 4]
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    assert(v("a") == "5")
    assert(v("b") == 7L)
    assert(v("c") == 2.0)
    assert(v("d") == true)
    assert(v("e") == "thing")
    assert(v("f") == null)
    assert(v("g") == "9")
    assert(v("h") == "9")
    assert(v("lst") == Vector("1", 2L))
    assert(v("flow") == Vector("3", 4L))
  }

  test("yaml merge keys: explicit wins over merged, earlier source " +
      "wins among merges") {
    val y =
      """base: &base
        |  a: 1
        |  b: 2
        |other: &other
        |  b: 20
        |  c: 30
        |  d: 40
        |merged:
        |  <<: *base
        |  b: 99
        |  e: 5
        |multi:
        |  <<: [*base, *other]
        |  d: 4
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    // explicit b overrides the merged one; merged a arrives
    assert(v("merged") == Map("a" -> 1L, "b" -> 99L, "e" -> 5L))
    // sequence merge: *base (earlier) beats *other on b; c/d flow in;
    // explicit d beats everything
    assert(v("multi") == Map("a" -> 1L, "b" -> 2L, "c" -> 30L,
      "d" -> 4L))
    // merge keys work in FLOW mappings too, same precedence
    val vf = parseYaml(
      """base: &base
        |  a: 1
        |  b: 2
        |flowmerged: {<<: *base, b: 9, c: 3}
        |""".stripMargin).asInstanceOf[Map[Any, Any]]
    assert(vf("flowmerged") == Map("a" -> 1L, "b" -> 9L, "c" -> 3L),
      vf)
  }

  test("yaml complex keys: `? ` block keys with and without values") {
    val y =
      """? - one
        |  - two
        |: pair value
        |? simple long key
        |: 7
        |? keyless
        |plain: 1
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    assert(v(Vector("one", "two")) == "pair value")
    assert(v("simple long key") == 7L)
    assert(v("keyless") == null)
    assert(v("plain") == 1L)
    // nested mapping as a complex key
    val y2 =
      """? a: 1
        |: mapped
        |""".stripMargin
    val v2 = parseYaml(y2).asInstanceOf[Map[Any, Any]]
    assert(v2(Map("a" -> 1L)) == "mapped")
  }

  test("yaml multi-line plain scalars fold with spaces") {
    val y =
      """a: first part
        |  second part
        |  third part
        |b: 2
        |lst:
        |  - one item
        |    continued
        |  - two
        |top: plain
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    assert(v("a") == "first part second part third part")
    assert(v("b") == 2L)
    assert(v("lst") == Vector("one item continued", "two"))
    assert(v("top") == "plain")
  }

  test("yaml comments: between entries, trailing, in multi-line flow") {
    val y =
      """# leading comment
        |a: 1 # trailing
        |# between entries
        |b: [1, 2, # numbers
        |    3]
        |""".stripMargin
    val v = parseYaml(y).asInstanceOf[Map[Any, Any]]
    assert(v("a") == 1L)
    assert(v("b") == Vector(1L, 2L, 3L))
    // a '#' inside quotes is still content
    assert(parseYaml("k: 'a # b'") == Map("k" -> "a # b"))
  }

  test("yaml multi-document streams") {
    val y =
      """---
        |a: 1
        |---
        |b: 2
        |...
        |""".stripMargin
    val docs = parseYaml(y).asInstanceOf[Vector[Any]]
    assert(docs.length == 2)
    assert(docs(0) == Map("a" -> 1L))
    assert(docs(1) == Map("b" -> 2L))
    // single document with a --- header stays a single value
    assert(parseYaml("---\nk: v\n") == Map("k" -> "v"))
  }

  test("yaml %YAML / %TAG directive sections") {
    // %YAML 1.x accepted and invisible to the content
    assert(parseYaml("%YAML 1.2\n---\na: 1\n") == Map("a" -> 1L))
    assert(parseYaml("%YAML 1.1\n---\na: 1\n") == Map("a" -> 1L))
    // unknown major version: reject (ruamel parity), never mis-parse
    intercept[IllegalArgumentException] {
      parseYaml("%YAML 2.0\n---\na: 1\n")
    }
    // a %TAG handle resolving into the core schema coerces like the
    // equivalent !! tag
    val y =
      """%TAG !m! tag:yaml.org,2002:
        |---
        |a: !m!str 42
        |b: !m!int "7"
        |""".stripMargin
    assert(parseYaml(y) == Map("a" -> "42", "b" -> 7L))
    // verbatim !<uri> tags resolve without any directive
    assert(parseYaml("a: !<tag:yaml.org,2002:str> 42\n") ==
      Map("a" -> "42"))
    // a handle resolving elsewhere is ignored, value parsed (the
    // unknown-tag rule)
    val yApp =
      """%TAG !a! tag:example.com,2024:
        |---
        |a: !a!thing 42
        |""".stripMargin
    assert(parseYaml(yApp) == Map("a" -> 42L))
    // directives are per-document: the second document's handles do
    // not leak from the first
    val multi =
      """%TAG !m! tag:yaml.org,2002:
        |---
        |a: !m!str 1
        |...
        |%TAG !m! tag:example.com,2024:
        |---
        |a: !m!str 1
        |""".stripMargin
    val docs = parseYaml(multi).asInstanceOf[Vector[Any]]
    assert(docs(0) == Map("a" -> "1"))   // core-schema coercion
    assert(docs(1) == Map("a" -> 1L))    // application tag: ignored
    // reserved (unknown) directives are ignored, and a mid-document
    // '%' line stays content
    assert(parseYaml("%FOO bar\n---\na: 1\n") == Map("a" -> 1L))
    // a %TAG redirection of the SECONDARY handle away from the core
    // schema disables !! coercion (the resolved URI is authoritative)
    val yRedir =
      """%TAG !! tag:example.com,2024:
        |---
        |a: !!int "7"
        |""".stripMargin
    assert(parseYaml(yRedir) == Map("a" -> "7"))
    // directives before a BARE document (no ---): still applied
    assert(parseYaml(
      "%TAG !m! tag:yaml.org,2002:\na: !m!str 42\n") ==
      Map("a" -> "42"))
  }

  test("yaml: a long generated list with blank and comment lines " +
      "everywhere parses to its exact value") {
    val r = new scala.util.Random(11)
    val text = new StringBuilder("# inventory\n\n")
    val expected = Vector.tabulate(3000) { i =>
      val (a, b) = (r.nextInt(50), r.nextInt(50))
      val (w, h) = (r.nextInt(1000).toLong, r.nextInt(100))
      val (complexKeyYaml, complexKey) =
        if (i % 2 == 0) (s"    ? k$i long key\n", s"k$i long key": Any)
        else (s"    ? - k$i\n      - $a\n", Vector(s"k$i", a.toLong))
      text ++=
        s"""- id: $i
           |  name: item-$i  # trailing comment
           |
           |  # between entries
           |  tags:
           |    - t$a
           |
           |    # between list items
           |    - t$b
           |  spec:
           |    dims:
           |      w: $w
           |
           |      # three levels down
           |      h: $h.5
           |      at:
           |        x: ${i % 7}
           |
           |""".stripMargin + complexKeyYaml +
        s"""    : pair-$i
           |  note: |
           |    first line $i
           |
           |    third line
           |  # after the block scalar
           |
           |# between items
           |
           |""".stripMargin
      Map[Any, Any](
        "id" -> i.toLong,
        "name" -> s"item-$i",
        "tags" -> Vector(s"t$a", s"t$b"),
        "spec" -> Map[Any, Any](
          "dims" -> Map[Any, Any]("w" -> w, "h" -> (h + 0.5),
            "at" -> Map[Any, Any]("x" -> (i % 7).toLong)),
          complexKey -> s"pair-$i"),
        "note" -> s"first line $i\n\nthird line\n")
    }
    text ++= "\n# end\n\n"
    assert(parseYaml(text.result()) == expected)
  }

  test("directory and glob tables: sampled at the first data file, " +
      "read whole by Spark") {
    val dir = tempDir("table")
    def put(name: String, body: String): Unit =
      Files.write(dir.resolve(name), body.getBytes("UTF-8"))
    put("part-00000.jsonl", "{\"a\": 1}\n{\"a\": 2}\n")
    put("part-00001.jsonl", "{\"a\": 3}\n")
    // neither may be sampled: as a sample each reads as CSV
    put("_SUCCESS", "not, json\nat, all\n")
    put(".draft.jsonl", "not, json\nat, all\n")
    val glob = dir.resolve("*.jsonl").toString
    assert(detect(dir.toString).format == JsonLinesFormat)
    assert(detect(glob).format == JsonLinesFormat)
    intercept[java.nio.file.NoSuchFileException](
      detect(dir.resolve("*.csv").toString))
    val spark = graft.LocalSession(1).getOrCreate()
    try {
      for (path <- Seq(dir.toString, glob)) {
        val rows = sparkRead(spark, path).collect().map(_.getLong(0))
        assert(rows.sorted.toSeq == Seq(1L, 2L, 3L), path)
      }
    } finally spark.stop()
  }

  /** A fresh directory holding `files` (name -> body). */
  private def withTable[T](files: (String, String)*)(
      body: java.nio.file.Path => T): T = {
    val dir = tempDir("table")
    files.foreach { case (name, text) =>
      Files.write(dir.resolve(name), text.getBytes("UTF-8")) }
    body(dir)
  }

  private val jsonParts = Seq(
    "part-00000.jsonl" -> "{\"a\": 1}\n{\"a\": 2}\n",
    "part-00001.jsonl" -> "{\"a\": 3}\n",
    // neither may be read: each parses as CSV, not JSON lines
    "_SUCCESS" -> "not, json\nat, all\n",
    ".draft.jsonl" -> "not, json\nat, all\n")

  test("load: a directory of JSON-lines parts concatenates their " +
      "records, skipping _ and . files") {
    withTable(jsonParts: _*) { dir =>
      assert(load(dir.toString) ==
        Vector(Map("a" -> 1L), Map("a" -> 2L), Map("a" -> 3L)))
    }
  }

  test("load: a glob of JSON-lines parts concatenates their records") {
    withTable(jsonParts: _*) { dir =>
      assert(load(dir.resolve("*.jsonl").toString) ==
        Vector(Map("a" -> 1L), Map("a" -> 2L), Map("a" -> 3L)))
    }
  }

  test("load: CSV parts concatenate their rows under one header") {
    withTable(
      "part-00000.csv" -> "name,qty\napple,1\npear,2\n",
      "part-00001.csv" -> "name,qty\nplum,3\n") { dir =>
      assert(load(dir.toString) == Vector(VTuple(Vector("apple", "1")),
        VTuple(Vector("pear", "2")), VTuple(Vector("plum", "3"))))
    }
  }

  test("load: CSV parts with different headers, or parts of a " +
      "whole-document format, are refused") {
    withTable(
      "part-00000.csv" -> "name,qty\napple,1\npear,2\n",
      "part-00001.csv" -> "name,count\nplum,3\n") { dir =>
      val e = intercept[IllegalArgumentException](load(dir.toString))
      assert(e.getMessage.contains("part-00000.csv") &&
        e.getMessage.contains("part-00001.csv"), e.getMessage)
    }
    withTable("a.json" -> "[1, 2]", "b.json" -> "[3]") { dir =>
      val e = intercept[IllegalArgumentException](load(dir.toString))
      assert(e.getMessage.contains("separately"), e.getMessage)
    }
  }

  test("jsonl: detected, loaded as records, whole-doc json unaffected") {
    val jsonl = "{\"a\": 1}\n{\"a\": 2}\n{\"a\": 3}\n"
    assert(detectFormat(jsonl) == JsonLinesFormat)
    // pretty-printed whole-doc json is NOT jsonl (first line alone
    // does not parse)
    assert(detectFormat("{\n  \"a\": 1\n}\n") == JsonFormat)
    assert(detectFormat("[1, 2, 3]") == JsonFormat)
    val f = Files.createTempFile("recs", ".jsonl")
    Files.write(f, jsonl.getBytes("UTF-8"))
    val data = load(f.toString).asInstanceOf[Vector[Any]]
    assert(data.length == 3)
    assert(data.head == Map("a" -> 1L))
    Files.delete(f)
  }

  test("json strict rejects control chars in strings") {
    intercept[IllegalArgumentException](
      graft.tools.Json.parse("[\"a\tb\"]", strict = true))
    assert(graft.tools.Json.parse("[\"a\tb\"]", strict = false) ==
      Vector("a\tb"))
  }
}
