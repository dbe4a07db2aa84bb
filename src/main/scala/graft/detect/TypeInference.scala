package graft.detect

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SmartCast
import graft.model.ColumnInfo

/** Distributed full-pass type inference (SURVEY §2-A5, §7.3).
  *
  * csv-detective infers each column's python_type by examining values; here
  * the vote is ONE Spark aggregation over the whole file: for every column ×
  * candidate type we count parse successes among non-blank values, then pick
  * the strictest type that covers 100% of them.
  *
  * Inference predicates are deliberately stricter than the cast kernel:
  * SmartCast.toLong("7.5") truncates to 7 (reference smart_cast semantics),
  * but a column containing "7.5" must still be typed float, and "0"/"1"
  * columns must be int, not bool — so the vote uses syntax predicates, not
  * the lenient casts.
  *
  * Scale: a single scan, partial+final hash agg, no shuffle of row data
  * (only the tiny per-column count matrix moves). The date/datetime
  * disambiguation (any non-midnight time-of-day?) rides in the same pass.
  */
object TypeInference {

  private val StrictBool =
    Seq("true", "false", "yes", "no", "t", "f", "y", "n", "on", "off")

  private def jsonValid(c: Column): Column = {
    val t = trim(c)
    (t.startsWith("{") || t.startsWith("[")) && try_parse_json(t).isNotNull
  }

  /** predicate per candidate type: true ⇔ the non-blank value belongs. */
  private def predicates(c: Column): Seq[(String, Column)] = {
    val t = trim(c)
    val ts = SmartCast.toTimestampCol(c)
    Seq(
      "bool" -> lower(t).isin(StrictBool: _*),
      "int" -> SmartCast.cleanedNumber(t).rlike("^[+-]?[0-9]{1,18}$"),
      "float" -> SmartCast.toDouble(c).isNotNull,
      "datetime" -> ts.isNotNull,
      "withtime" -> (ts.isNotNull && (hour(ts) =!= 0 || minute(ts) =!= 0 || second(ts) =!= 0)),
      "json" -> jsonValid(c))
  }

  def infer(df: DataFrame): Map[String, ColumnInfo] = {
    // the first user of smart_to_timestamp on the ingest path: castAll and
    // FormatDetector's date_fr vote run after it on the same session
    graft.functions.GraftFunctions.register(df.sparkSession)
    val cols = df.columns.toSeq
    if (cols.isEmpty) return Map.empty

    val aggs: Seq[Column] = cols.flatMap { name =>
      val c = safeCol(name)
      val nonBlank = c.isNotNull && trim(c) =!= ""
      count(when(nonBlank, lit(1))).as(s"${name}__nb") +:
        predicates(c).map { case (tname, pred) =>
          count(when(nonBlank && pred, lit(1))).as(s"${name}__$tname")
        }
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()

    cols.map { name =>
      val nonBlank = row.getAs[Long](s"${name}__nb")
      val hit = (t: String) => row.getAs[Long](s"${name}__$t")
      val chosen =
        if (nonBlank == 0L) "string"
        else if (hit("bool") == nonBlank) "bool"
        else if (hit("int") == nonBlank) "int"
        else if (hit("float") == nonBlank) "float"
        else if (hit("datetime") == nonBlank && hit("withtime") == 0L) "date"
        else if (hit("datetime") == nonBlank) "datetime"
        else if (hit("json") == nonBlank) "json"
        else "string"
      name -> ColumnInfo(chosen)
    }.toMap
  }

  /** Apply an inferred (or supplied) column→type map: smart-cast every
    * column, keeping names. The projection is a single codegen stage. */
  def castAll(df: DataFrame, types: Map[String, ColumnInfo]): DataFrame = {
    val projected = df.columns.map { name =>
      val t = types.get(name).map(_.pythonType).getOrElse("string")
      SmartCast.cast(safeCol(name), t).as(name)
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** CSV headers are arbitrary strings; `col` parses dots as struct access
    * and chokes on backticks, so quote every reference
    * (a header like "population.2020" crashed the whole analyse batch). */
  private def safeCol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")
}
