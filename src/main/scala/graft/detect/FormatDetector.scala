package graft.detect

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.ColumnInfo

/** Fine-grained per-column `format` detection (SURVEY §2-A5) — the
  * csv-detective vocabulary BELOW python_type: a string column that is
  * really a SIREN register number, a French postal code, an email, a
  * WGS84 latitude. The reference carries these in its inspection report
  * (`columns{name→{python_type, format}}` + the `formats` list,
  * `analysis/csv.py:152-154`) and its exception config keys index requests
  * by them (`db/resource_exception.py:44`).
  *
  * Same distributed shape as TypeInference: ONE aggregation over the file
  * computes, for every column × candidate format, the count of non-blank
  * values matching the format's validator; the driver then picks the most
  * specific format whose match rate clears `threshold`. No row data
  * shuffles — only the (columns × formats) count matrix reaches the driver.
  * Validators are pure Column expressions (regex + arithmetic), so the
  * whole vote stays inside whole-stage codegen.
  *
  * Validators follow the public specifications of each format:
  *   - SIREN: 9 digits, Luhn checksum (mod-10, doubling every second digit
  *     from the right).
  *   - SIRET: SIREN + 5-digit NIC, Luhn over all 14 digits.
  *   - code_postal: 5 digits, department prefix 01–98.
  *   - code_departement: 01–95 (zero-padded), 2A/2B, or 971–976.
  *   - code_region: the post-2016 INSEE region code value set.
  *   - code_commune_insee: department prefix (incl. 2A/2B) + 3 digits.
  *   - latitude/longitude_wgs: decimal degrees within ±90 / ±180.
  *   - email / url / tel_fr: syntax regexes.
  */
object FormatDetector {

  /** One candidate: detection name, the python_type it refines, a
    * specificity rank (higher wins when several formats fully match — a
    * column of "75001" matches both code_postal and code_commune_insee;
    * the rank orders value-set size, smallest set first), and the
    * validator. */
  final case class FormatSpec(
      name: String, pythonType: String, specificity: Int, pred: Column => Column)

  /** Luhn mod-10 check over an all-digit string: double every second digit
    * from the RIGHT, subtract 9 from two-digit doubles, sum ≡ 0 (mod 10).
    * Pure array arithmetic — no UDF. */
  private def luhnValid(t: Column): Column = {
    val digits = split(reverse(t), "")
    val contrib = zip_with(
      digits,
      sequence(lit(0), length(t) - 1),
      (ch, i) => {
        // try_cast: conjuncts are not short-circuited row-by-row under ANSI
        // mode, so this runs on non-digit strings too (the rlike gate only
        // decides the final AND) — a null contribution nulls the sum and
        // the ≡0 check is then not-true, which is what we want
        val d = ch.try_cast(org.apache.spark.sql.types.IntegerType)
        when(i % 2 === 1, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      })
    aggregate(contrib, lit(0), (acc, x) => acc + x) % 10 === 0
  }

  /** The Luhn check digit completing an all-digit base (the rightmost,
    * undoubled position) — the generator dual of luhnValid; used by specs
    * and the x74 oracle to synthesize valid register numbers. */
  def luhnCheckDigit(base: Column): Column = {
    val digits = split(reverse(base), "")
    val contrib = zip_with(
      digits,
      sequence(lit(0), length(base) - 1),
      (ch, i) => {
        val d = ch.try_cast(org.apache.spark.sql.types.IntegerType)
        when(i % 2 === 0, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      })
    (lit(10) - aggregate(contrib, lit(0), (a, x) => a + x) % 10) % 10
  }

  private val regionCodes =
    Seq("01", "02", "03", "04", "06", "11", "24", "27", "28", "32",
      "44", "52", "53", "75", "76", "84", "93", "94")

  /** INSEE PCS-2003 level-2 socio-professional category codes (the public
    * nomenclature's 2-digit value set). Every code is also a plausible
    * département, so code_csp must OUTRANK code_departement in specificity
    * (40 values vs ~101) — containment resolves the same way as
    * code_postal ⊂ code_commune_insee. */
  private[graft] val cspCodes =
    Seq("10", "21", "22", "23", "31", "33", "34", "35", "37", "38",
      "42", "43", "44", "45", "46", "47", "48", "52", "53", "54",
      "55", "56", "62", "63", "64", "65", "67", "68", "69", "71",
      "72", "74", "75", "77", "78", "81", "83", "84", "85", "86")

  /** French month names (SmartDateUtil's vocabulary) — the cheap rlike
    * gate in front of the full smart_to_timestamp parse, so the date_fr
    * vote only pays the parser on plausible rows and an ISO date column
    * is NOT classified as textual-French. */
  private val frMonthGate =
    "(?i)^.*\\b(janvier|f[ée]vrier|mars|avril|mai|juin|juillet|ao[ûu]t|" +
      "septembre|octobre|novembre|d[ée]cembre)\\b.*$"

  /** French weekday / month-name value sets (public calendar vocabulary;
    * csv-detective's jour_de_la_semaine / mois_de_annee detections). */
  private val frWeekdays =
    Seq("lundi", "mardi", "mercredi", "jeudi", "vendredi", "samedi", "dimanche")
  private val frMonths =
    Seq("janvier", "février", "fevrier", "mars", "avril", "mai", "juin",
      "juillet", "août", "aout", "septembre", "octobre", "novembre",
      "décembre", "decembre")

  /** Boolean word set (csv-detective's booleen detection: French + English
    * word forms; bare 0/1 stays an int column, not a boolean). */
  private val boolWords =
    Seq("oui", "non", "vrai", "faux", "true", "false", "yes", "no", "y", "n", "o")

  /** French sex/gender field vocabulary (csv-detective's sexe detection;
    * disjoint from booleen's word set on the m/f/h letters). */
  private val sexeWords =
    Seq("m", "f", "h", "homme", "femme", "masculin", "feminin", "féminin")

  /** Candidate formats, most specific (smallest value set) first. */
  val formats: Seq[FormatSpec] = Seq(
    FormatSpec("sexe", "string", 98,
      t => lower(t).isin(sexeWords: _*)),
    FormatSpec("jour_de_la_semaine", "string", 97,
      t => lower(t).isin(frWeekdays: _*)),
    FormatSpec("mois_de_annee", "string", 95,
      t => lower(t).isin(frMonths: _*)),
    FormatSpec("booleen", "string", 93,
      t => lower(t).isin(boolWords: _*)),
    FormatSpec("code_region", "string", 90,
      t => t.isin(regionCodes: _*)),
    FormatSpec("code_csp", "string", 85,
      t => t.isin(cspCodes: _*)),
    FormatSpec("code_departement", "string", 80,
      t => t.rlike("^(0[1-9]|[1-8][0-9]|9[0-5]|2[AB]|97[1-6])$")),
    FormatSpec("insee_ape", "string", 75,
      // NAF/APE activity code: 4 digits (optionally dotted 2+2) + one
      // uppercase section letter — "6201Z" or "62.01Z"
      t => t.rlike("^[0-9]{2}\\.?[0-9]{2}[A-Z]$")),
    FormatSpec("siren", "string", 70,
      t => t.rlike("^[0-9]{9}$") && luhnValid(t)),
    FormatSpec("siret", "string", 70,
      t => t.rlike("^[0-9]{14}$") && luhnValid(t)),
    FormatSpec("code_rna", "string", 69,
      // national association register id: 'W' + 9 digits
      t => t.rlike("^W[0-9]{9}$")),
    FormatSpec("uuid", "string", 68,
      t => t.rlike("^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
        "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$")),
    FormatSpec("mongo_object_id", "string", 66,
      t => t.rlike("^[0-9a-f]{24}$")),
    FormatSpec("code_postal", "string", 60,
      t => t.rlike("^(0[1-9]|[1-8][0-9]|9[0-8])[0-9]{3}$")),
    FormatSpec("year", "int", 55,
      // 4-digit Gregorian years of the record-keeping era (1000–2099);
      // disjoint from code_postal/commune by digit count
      t => t.rlike("^(1[0-9]{3}|20[0-9]{2})$")),
    FormatSpec("code_commune_insee", "string", 50,
      t => t.rlike("^(0[1-9]|[1-8][0-9]|9[0-8]|2[AB])[0-9]{3}$")),
    // pythonType "date", NOT "string": TypeInference's datetime predicate
    // shares the same smart_to_timestamp parser, so a column passing the
    // date_fr vote is always inferred date — declaring string here made
    // inferWithFormats' compatibility gate drop the format annotation
    // from every correctly-typed French-date column
    FormatSpec("date_fr", "date", 45,
      // textual French date ("12 janvier 2023"): the month-name gate keeps
      // ISO/numeric date columns out, the engine's own multi-locale parser
      // (SmartDateUtil, the B3 kernel) decides actual validity — day-range
      // and month-name errors fail the parse, not just the regex
      t => t.rlike(frMonthGate) &&
        call_function("smart_to_timestamp", t).isNotNull),
    FormatSpec("tel_fr", "string", 40,
      t => t.rlike("^(\\+33[ .-]?|0033[ .-]?|0)[1-9]([ .-]?[0-9]{2}){4}$")),
    FormatSpec("email", "string", 30,
      t => t.rlike("^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$")),
    FormatSpec("url", "string", 30,
      t => t.rlike("^https?://[^\\s/$.?#].[^\\s]*$")),
    FormatSpec("adresse", "string", 25,
      // street-number + way-type heuristic ("12 rue de la Paix",
      // "3 bis avenue Foch") — csv-detective's adresse shape
      t => lower(t).rlike("^[0-9]{1,4}( ?(bis|ter|quater))?[, ]+" +
        "(rue|avenue|av\\.?|boulevard|bd\\.?|chemin|place|impasse|" +
        "all[ée]e|route|quai|cours|square)\\b.*$")),
    FormatSpec("latlon_wgs", "string", 22,
      // a "lat, lon" pair in ONE field — both halves range-checked
      t => t.rlike("^[+-]?[0-9]{1,2}(\\.[0-9]+)?, ?" +
        "[+-]?[0-9]{1,3}(\\.[0-9]+)?$") &&
        abs(split(t, ",")(0).try_cast(org.apache.spark.sql.types.DoubleType)) <= 90.0 &&
        abs(trim(split(t, ",")(1)).try_cast(org.apache.spark.sql.types.DoubleType)) <= 180.0),
    FormatSpec("latitude_wgs", "float", 20,
      t => t.rlike("^[+-]?[0-9]{1,2}(\\.[0-9]+)?$") &&
        abs(t.try_cast(org.apache.spark.sql.types.DoubleType)) <= 90.0),
    FormatSpec("longitude_wgs", "float", 10,
      t => t.rlike("^[+-]?[0-9]{1,3}(\\.[0-9]+)?$") &&
        abs(t.try_cast(org.apache.spark.sql.types.DoubleType)) <= 180.0))

  /** Per-column (format, matchRate) vote in one aggregation pass.
    * Returns, per column, every candidate with its match rate over
    * non-blank values (rate 0 for empty columns). */
  def matchRates(df: DataFrame): Map[String, Map[String, Double]] = {
    graft.functions.GraftFunctions.register(df.sparkSession) // date_fr calls smart_to_timestamp
    val cols = df.columns.toSeq
    if (cols.isEmpty) return Map.empty
    val aggs: Seq[Column] = cols.flatMap { name =>
      val c = col("`" + name.replace("`", "``") + "`").cast("string")
      val t = trim(c)
      val nonBlank = c.isNotNull && t =!= ""
      count(when(nonBlank, lit(1))).as(s"${name}__nb") +:
        formats.map { f =>
          count(when(nonBlank && f.pred(t), lit(1))).as(s"${name}__${f.name}")
        }
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.map { name =>
      val nb = row.getAs[Long](s"${name}__nb")
      name -> formats.map { f =>
        val hits = row.getAs[Long](s"${name}__${f.name}")
        f.name -> (if (nb == 0L) 0.0 else hits.toDouble / nb)
      }.toMap
    }.toMap
  }

  /** The most specific format per column clearing `threshold` (default:
    * every non-blank value matches, same strict vote as TypeInference),
    * or "default" — the reference's value for an unrefined column. */
  def detect(df: DataFrame, threshold: Double = 1.0): Map[String, String] = {
    val rates = matchRates(df)
    df.columns.map { name =>
      val winner = formats
        .filter(f => rates(name)(f.name) >= threshold && rates(name)(f.name) > 0.0)
        .sortBy(-_.specificity)
        .headOption
      name -> winner.map(_.name).getOrElse("default")
    }.toMap
  }

  /** TypeInference + format refinement in one call — the full csv-detective
    * `columns` block: python_type from the strict type vote, format from
    * the format vote (only columns whose python_type the format refines:
    * a true float column can be latitude_wgs, an int column is never an
    * email). Two single-pass aggregations over the file. */
  def inferWithFormats(df: DataFrame, threshold: Double = 1.0): Map[String, ColumnInfo] = {
    val types = TypeInference.infer(df)
    val fmts = detect(df, threshold)
    types.map { case (name, info) =>
      val fmt = fmts.getOrElse(name, "default")
      val compatible = formats.find(_.name == fmt)
        .forall(f => f.pythonType == info.pythonType ||
          (f.pythonType == "string" && info.pythonType == "int") ||
          (f.pythonType == "float" && info.pythonType == "int"))
      name -> (if (fmt != "default" && compatible) info.copy(format = fmt) else info)
    }
  }
}
