package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Semi-structured text → typed columns, re-expressing the reference's
  * keeper-output parsing (chStats.py:223-240 `key: value` stat lines,
  * chStats.py:327-341 `key=value` conf lines, chStats.py:275-295 regex
  * field extraction) as codegen'd Catalyst column expressions — no UDFs,
  * so parsing stays inside whole-stage codegen at 100 TB.
  */
object LogLines {

  /** Parse `key<sep>value` lines (one per \n) into map<string,string>. */
  def kvMap(text: Column, sep: String): Column = {
    // str_to_map's delimiters are regexes; escape-sensitive seps are quoted.
    str_to_map(text, lit("\n"), lit(java.util.regex.Pattern.quote(sep)))
  }

  /** Keeper-style key normalization: lowercase, spaces → underscores
    * (chStats.py:237). Applied to map keys.
    */
  def normalizeKeys(m: Column): Column =
    transform_keys(m, (k, _) => lower(regexp_replace(k, " ", "_")))

  /** Typed getters with the reference's coercion (digits→int, else text). */
  def getLong(m: Column, key: String): Column = element_at(m, key).cast("long")
  def getString(m: Column, key: String): Column = element_at(m, key)
  def getBool(m: Column, key: String): Column =
    when(lower(element_at(m, key)) === "true", true)
      .when(lower(element_at(m, key)) === "false", false)

  /** Structural parse of the keeper cons line
    * ` /[::ffff:ip]:port(k=v,k=v,...)` (chStats.py:275-295): three
    * substring_index cuts + ONE str_to_map pass. Extracting F fields
    * costs one split pass total instead of F regex scans per line —
    * all codegen'd. The ip keeps no ':' of its own, so the last
    * ':'-token before ']' is the address. */
  def consMap(line: Column): Column =
    str_to_map(substring_index(substring_index(line, "(", -1), ")", 1),
      lit(","), lit("="))
  def consIp(line: Column): Column =
    substring_index(substring_index(line, "]", 1), ":", -1)
  def consPort(line: Column): Column =
    substring_index(substring_index(line, "(", 1), "]:", -1).cast("long")

  /** Serialize a row to the reference's syslog payload format
    * `PH_SYSTEM_<TYPE>={"k":v,...}` (chStats.py:422,481-483). JSON is
    * built with explicit concatenation so the byte layout is
    * deterministic and engine-independent.
    */
  def phPayload(payloadType: String, fields: (String, Column)*): Column = {
    val body = fields.map { case (k, v) => concat(lit("\"" + k + "\":"), v) }
    concat(lit(s"PH_SYSTEM_$payloadType={"),
      concat_ws(",", body: _*), lit("}"))
  }

  /** JSON-quote a string column (for phPayload string fields), escaping
    * backslash, double-quote, and the common control characters the way
    * the reference's json.dumps does (chStats.py:422) — a value carrying
    * `"` or `\` must not corrupt the payload. Literal `replace`, not
    * regex, so the escape chain stays codegen'd and engine-portable. */
  def jstr(c: Column): Column = {
    val esc =
      replace(
        replace(
          replace(
            replace(
              replace(c, lit("\\"), lit("\\\\")),
              lit("\""), lit("\\\"")),
            lit("\n"), lit("\\n")),
          lit("\r"), lit("\\r")),
        lit("\t"), lit("\\t"))
    concat(lit("\""), esc, lit("\""))
  }

  /** phPayload with empty-value elision: fields whose value is NULL or
    * the empty string are dropped from the payload entirely
    * (remove_empty_keys, chStats.py:63-64). concat_ws skips NULLs, so
    * elision is a per-field NULLing — no row-wise branching. */
  def phPayloadElide(payloadType: String, fields: (String, Column)*): Column = {
    val body = fields.map { case (k, v) =>
      when(v.isNull || v === "" || v === "\"\"", lit(null))
        .otherwise(concat(lit("\"" + k + "\":"), v))
    }
    concat(lit(s"PH_SYSTEM_$payloadType={"),
      concat_ws(",", body: _*), lit("}"))
  }
}
