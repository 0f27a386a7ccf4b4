package graft.tables

import org.scalatest.funsuite.AnyFunSuite

/** FlatJson replaces the regex manifest scrape that overflowed the stack
  * on long values (a labels-stage `inputs` lineage grows with batch count;
  * BENCH r5 saw a bare StackOverflowError from exactly this). The length
  * test here is the regression: the old pattern died around ~2k chars on a
  * default thread stack; the parser must be length-independent. */
class FlatJsonSpec extends AnyFunSuite {

  test("parses the manifest shape, unescaping values") {
    val json =
      """{
        |  "fingerprint": "ab12:w=5|k=128",
        |  "inputs": "sigs_a=1;sigs_b=2",
        |  "schema": "struct<doc_id:bigint,band_keys:array<bigint>>",
        |  "quoted": "say \"hi\" and \\ back"
        |}""".stripMargin
    val m = FlatJson.parse(json)
    assert(m("fingerprint") == "ab12:w=5|k=128")
    assert(m("inputs") == "sigs_a=1;sigs_b=2")
    assert(m("schema") == "struct<doc_id:bigint,band_keys:array<bigint>>")
    assert(m("quoted") == """say "hi" and \ back""")
  }

  test("values of any length parse without stack growth") {
    // ~1 MB value: the old regex recursed ~6 frames/char and died at ~2k.
    val big = "x" * 1000000
    val m = FlatJson.parse(s"""{"k": "$big", "fingerprint": "fp"}""")
    assert(m("k").length == 1000000)
    assert(m("fingerprint") == "fp")
    // and a long lineage-shaped value with separators
    val lineage = (1 to 5000).map(i => s"sigs_delta_$i=fp$i").mkString(";")
    assert(FlatJson.parse(s"""{"inputs": "$lineage"}""")("inputs") == lineage)
  }

  test("non-string values and junk are skipped, not mis-parsed") {
    val m = FlatJson.parse(
      """{"rows": 42, "name": "a", "flag": true, "nested": {"inner": "v"}}""")
    assert(m("name") == "a")
    assert(m("inner") == "v") // flat scrape semantics, like the old regex
    assert(!m.contains("rows") && !m.contains("flag"))
  }

  test("unterminated strings do not loop or throw") {
    assert(FlatJson.parse("""{"k": "unterminated""") == Map.empty)
    assert(FlatJson.parse(""""k"""") == Map.empty)
    assert(FlatJson.parse("") == Map.empty)
    assert(FlatJson.parse("""{"a": "1", "broken""") == Map("a" -> "1"))
    // trailing escape at EOF
    assert(FlatJson.parse("""{"a": "x\""") == Map.empty)
  }

  test("round-trips a StageStore-style writer") {
    def write(fields: Map[String, String]): String = FlatJson.render(fields)
    val fields = Map(
      "stage" -> "labels_delta_404200",
      "inputs" -> (1 to 30).map(i => s"s$i=f$i").mkString(";"),
      "weird" -> """back\slash "quote" end\""",
      "control" -> "line1\nline2\r\ttab\u0000nul\u001funit\u0008bs",
      "unicode" -> "caf\u00e9 \u2014 \\u0041 literal")
    assert(FlatJson.parse(write(fields)) == fields)
    // one JSONL line per record: no raw control character survives
    val line = FlatJson.escape(fields("control"))
    assert(line.forall(_ >= ' '), line)
    assert(line == "line1\\nline2\\r\\ttab\\u0000nul\\u001funit\\u0008bs")
  }
}
