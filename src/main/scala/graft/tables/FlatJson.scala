package graft.tables

/** Iterative parser, and the one writer (`render`), for the flat
  * string-valued JSON this engine writes itself (StageStore stage manifests, IndexStore params.json and mutation
  * manifests): `{"k": "v", ...}` with values escaped by `escape`.
  *
  * Replaces the regex scrape `"((?:[^"\\]|\\.)*)"` at those sites: Java's
  * regex engine recurses several stack frames per character matched by an
  * alternation-under-star, so a value a few thousand characters long
  * overflows the driver thread's stack. The incremental store hit exactly
  * that — a labels-stage manifest's `inputs` lineage grows linearly with
  * the batch count, and at ~8 stored batches the manifest read started
  * dying with a bare StackOverflowError (BENCH round-5 artifact,
  * `incremental_delta_ingest` = -1). A char loop is O(n), recursion-free,
  * and length-independent.
  */
object FlatJson {

  /** `s` as the body of a JSON string literal: backslash, double quote
    * and every control character below 0x20 are escaped, so a value can
    * never break the line it sits on. The one escaper for every JSON this
    * engine writes. */
  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** `fields` as one flat JSON object, keys sorted, values escaped: the
    * one writer of every manifest and params file the stores publish. */
  def render(fields: Iterable[(String, String)]): String =
    fields.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${escape(k)}": "${escape(v)}"""" }
      .mkString("{\n  ", ",\n  ", "\n}")

  /** Every `"key": "value"` pair in `s`, values unescaped. Non-string
    * values (none are ever written) are skipped, like the old scrape. */
  def parse(s: String): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    val n = s.length
    // Parses the string literal starting at the opening quote `from`;
    // returns (text, indexAfterClosingQuote), text = null if unterminated.
    def stringAt(from: Int): (String, Int) = {
      val sb = new java.lang.StringBuilder()
      var j = from + 1
      while (j < n) {
        val c = s.charAt(j)
        if (c == '\\' && j + 1 < n) {
          s.charAt(j + 1) match {
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' if j + 6 <= n &&
                s.substring(j + 2, j + 6).forall(Character.digit(_, 16) >= 0) =>
              sb.append(Integer.parseInt(s.substring(j + 2, j + 6), 16).toChar)
              j += 4
            case e => sb.append(e)
          }
          j += 2
        } else if (c == '"') return (sb.toString, j + 1)
        else { sb.append(c); j += 1 }
      }
      (null, j)
    }
    var i = 0
    while (i < n) {
      if (s.charAt(i) == '"') {
        val (key, afterKey) = stringAt(i)
        if (key == null) i = n
        else {
          var j = afterKey
          while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
          if (j < n && s.charAt(j) == ':') {
            j += 1
            while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
            if (j < n && s.charAt(j) == '"') {
              val (v, afterV) = stringAt(j)
              if (v == null) i = n
              else { out += key -> v; i = afterV }
            } else i = j // non-string value: key consumed, scan on
          } else i = afterKey
        }
      } else i += 1
    }
    out.result()
  }
}
