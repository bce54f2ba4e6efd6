package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** File sources for Wikidata dumps (SURVEY §2.A A1-A7).
  *
  * The dump is newline-delimited JSON wrapped in a top-level array:
  * first line `[`, last line `]`, entity objects on interior lines with
  * trailing commas (reference: `src/utils.rs:125-129`,
  * `src/utils/init_reader.rs`). We read it as TEXT — splittable, and
  * for `.bz2` Hadoop streams + splits blocks, parallelizing what the
  * reference decompresses single-threaded — and `from_json` each raw
  * line once with the explicit raw schema (no inference pass over a
  * >1 TB dump, no cleanup pass: Jackson skips the whitespace and stops
  * before the trailing comma; `[`/`]` lines come back corrupt).
  *
  * Both line forms parse in one pass: bare dump entities and the
  * `{"entities":{...}}` fixture envelope (FIXTURES.md §1.1).
  */
object WikidataSource {

  /** Supported input formats (A3 format dispatch). Spark decodes the
    * compression transparently from the file extension; the parameter
    * exists for reference parity and fails fast on unknown formats. */
  val formats: Set[String] = Set("json", "bz2")

  /** Lines → one row per line with a single `j` struct column (raw
    * schema), over ANY lines DataFrame — batch or streaming
    * (`spark.readStream.text`): the parse is per-row, so the same
    * pipeline runs unchanged under Structured Streaming. Malformed
    * lines carry their text in `j._corrupt_record`; [[entities]] drops
    * them (A7 skip-bad-records, as the reference skips silently). */
  def fromLines(lines: DataFrame): DataFrame =
    lines.select(from_json(col("value"), Schemas.rawLine,
      Map("columnNameOfCorruptRecord" -> Schemas.corruptRecord)).as("j"))

  /** Unwrap to one row per entity with the bare `rawEntity` schema,
    * accepting both line forms. A wrapped line may carry several
    * entities — all are kept (superset of the reference, which assumes
    * one). */
  def entities(raw: DataFrame): DataFrame = {
    val bareStruct = struct(
      col("j.type").as("type"), col("j.id").as("id"),
      col("j.datatype").as("datatype"), col("j.labels").as("labels"),
      col("j.lemmas").as("lemmas"),
      col("j.descriptions").as("descriptions"), col("j.claims").as("claims"))
    val parsed = col(s"j.${Schemas.corruptRecord}").isNull
    raw
      // a corrupt line explodes to nothing: its partial row may carry
      // an id, and a filter on `j` would be pushed beneath the parse
      // Project and parse every line twice
      .select(explode(
        when(parsed && col("j.entities").isNotNull, map_values(col("j.entities")))
          .when(parsed, array(bareStruct))).as("e"))
      // A7: drop lines that didn't parse into an entity shape, and ids
      // outside Q/P/L (forms, senses, E-entities) — skip, never panic
      // (reference todo!() hazard, SURVEY §7.4).
      .filter(col("e.id").isNotNull && col("e.id").rlike("^[QPL][0-9]+$"))
      .select(col("e.*"))
  }

  /** One-call source: path → entity rows. */
  def read(spark: SparkSession, path: String, format: String = "json"): DataFrame = {
    require(formats.contains(format),
      s"unknown WIKIDATA_FILE_FORMAT '$format' (expected one of $formats)")
    entities(fromLines(spark.read.text(path)))
  }
}
