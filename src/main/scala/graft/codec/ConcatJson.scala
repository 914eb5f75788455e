package graft.codec

import org.apache.spark.sql.Dataset

/** Concatenated-JSON codec (operator S1 in SURVEY.md §2.1).
  *
  * The reference's raw input files are back-to-back JSON documents with no
  * delimiter, decoded with an incremental `raw_decode` cursor loop that
  * skips corrupt bytes one char at a time
  * (`/root/reference/ef_ingestion_etl/data_profiling.py:90-110`).
  *
  * [[decodeTyped]] splits and decodes in one pass per blob inside
  * `mapPartitions` — one task per input file blob, fully distributed, no
  * driver loop — with the same cursor recovery. A document that fails to
  * parse is one `corrupt` row: counted, not lost.
  */
object ConcatJson {

  /** Typed decoded change event (fast path). `payloadJson` keeps the
    * nested payload unparsed — it is only `from_json`'d when a batch
    * actually promotes payload columns, which removes the dominant
    * decode cost (Spark's `from_json` builds a fresh parser + stream
    * decoder per row; profiled at >50% of wire-replay CPU). */
  case class RawChange(
      raw: String, corrupt: Boolean,
      event_id: String, op: String, seq: java.lang.Long,
      repo: String, path: String, commit: String, lang: String,
      commit_lang: String, content: String, schema_ver: String,
      source: String, part: String, payload_json: String)

  /** Fused split+decode: one pass over each blob with char[]-backed
    * Jackson parsers (no per-row StreamDecoder), one JsonFactory per
    * partition, raw_decode-style corrupt-byte recovery. The imperative
    * codec is the one place `mapPartitions` beats Column expressions:
    * it halves the parse count and kills per-row parser setup.
    *
    * The field walk is STREAMING (token cursor, guide §1.2 step 2): the
    * earlier `readTree` built a JsonNode tree per event — one map plus
    * one node per field of pure allocation on the hottest path of the
    * wire replay — only to read ~13 scalar fields once. The walk keeps
    * tree semantics except for numbers in string-typed fields: last
    * duplicate key wins, scalar fields get the token text (containers
    * coerce to "" like `JsonNode.asText`). A numeric token's text is its
    * RAW text as written (`1e3`, `2.50`), where `JsonNode.asText` printed
    * the parsed number (`1000.0`, `2.5`). `seq` accepts integral tokens
    * in long range (and truncates in-range doubles, like
    * `canConvertToLong`/`asLong`); `payload` is captured as its RAW
    * character span (consumers only ever `from_json` it). */
  def decodeTyped(blobs: Dataset[String]): Dataset[RawChange] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      val factory = new com.fasterxml.jackson.core.JsonFactory()
      it.flatMap { blob => decodeBlob(blob, factory) }
    }
  }

  private def decodeBlob(blob: String,
      factory: com.fasterxml.jackson.core.JsonFactory): Seq[RawChange] = {
    import com.fasterxml.jackson.core.JsonToken._
    val out = Seq.newBuilder[RawChange]
    val arr = blob.toCharArray
    val n = arr.length
    var i = 0
    var failedTo = 0 // end of the last corrupt row's span
    while (i < n) {
      if (arr(i) == '{') {
        var consumed = -1
        var failedAt = -1
        var eventId, op, repo, path, commit, lang, commitLang: String = null
        var content, schemaVer, source, part, payloadJson: String = null
        var seq: java.lang.Long = null
        def assign(name: String, v: String): Unit = name match {
          case "event_id" => eventId = v
          case "op" => op = v
          case "repo" => repo = v
          case "path" => path = v
          case "commit" => commit = v
          case "lang" => lang = v
          case "commit_lang" => commitLang = v
          case "content" => content = v
          case "schema_ver" => schemaVer = v
          case "source" => source = v
          case "part" => part = v
          case _ => ()
        }
        val p = factory.createParser(arr, i, n - i)
        try {
          // the first token of a valid value starting at '{' is
          // START_OBJECT, so no non-object quarantine branch is needed
          p.nextToken()
          var tok = p.nextToken()
          while (tok != END_OBJECT) {
            val name = p.currentName()
            val vt = p.nextToken()
            if (vt == START_OBJECT || vt == START_ARRAY) {
              val s0 = p.currentTokenLocation().getCharOffset.toInt
              p.skipChildren()
              if (name == "payload") {
                val e0 = p.currentLocation().getCharOffset.toInt
                payloadJson = new String(arr, i + s0, e0 - s0)
              } else assign(name, "") // tree semantics: container asText = ""
            } else if (vt != VALUE_NULL) {
              if (name == "seq") {
                seq = vt match {
                  case VALUE_NUMBER_INT =>
                    val nt = p.getNumberType
                    if (nt == com.fasterxml.jackson.core.JsonParser.NumberType.INT ||
                      nt == com.fasterxml.jackson.core.JsonParser.NumberType.LONG)
                      java.lang.Long.valueOf(p.getLongValue)
                    else null // BigInteger beyond long: canConvertToLong=false
                  case VALUE_NUMBER_FLOAT =>
                    val d = p.getDoubleValue
                    if (d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble)
                      java.lang.Long.valueOf(d.toLong)
                    else null
                  case _ => null // strings/bools: canConvertToLong=false
                }
              } else if (name == "payload") {
                // scalar payload: its raw token span (consumers only
                // ever from_json it)
                val s0 = p.currentTokenLocation().getCharOffset.toInt
                val e0 = p.currentLocation().getCharOffset.toInt
                payloadJson = new String(arr, i + s0, e0 - s0)
              } else assign(name, p.getValueAsString)
            } else if (name == "payload") payloadJson = null
            else assign(name, null)
            tok = p.nextToken()
          }
          consumed = p.currentLocation().getCharOffset.toInt
        } catch {
          case _: com.fasterxml.jackson.core.JacksonException =>
            failedAt = p.currentLocation().getCharOffset.toInt
        } finally p.close()
        if (consumed > 0) {
          out += RawChange(
            raw = new String(arr, i, consumed), corrupt = false,
            event_id = eventId, op = op, seq = seq,
            repo = repo, path = path, commit = commit, lang = lang,
            commit_lang = commitLang, content = content,
            schema_ver = schemaVer, source = source, part = part,
            payload_json = payloadJson)
          i += consumed
        } else {
          // a failed parse from a '{' past the last corrupt span is one
          // corrupt document: its text from the '{' to where the parser
          // failed. Cursor+1 retry either way.
          if (i >= failedTo) {
            failedTo = i + math.min(math.max(failedAt, 1), n - i)
            out += RawChange(new String(arr, i, failedTo - i), corrupt = true,
              null, null, null, null, null, null, null, null, null, null, null, null, null)
          }
          i += 1
        }
      } else i += 1
    }
    out.result()
  }
}
