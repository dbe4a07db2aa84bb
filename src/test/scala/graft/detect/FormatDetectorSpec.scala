package graft.detect

import graft.SparkSpec

class FormatDetectorSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side Luhn reference (mod-10, double every 2nd digit from the
    * right) — the independent check for the Column-expression validator. */
  private def luhnSum(s: String): Int =
    s.reverse.zipWithIndex.map { case (ch, i) =>
      val d = ch - '0'
      if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
    }.sum

  private def withCheck(base: String): String = {
    // check digit occupies the rightmost (undoubled) position
    val s = luhnSum(base + "0")
    base + ((10 - s % 10) % 10).toString
  }

  test("siren/siret: Luhn checksum separates valid numbers from corrupted ones") {
    val rng = new scala.util.Random(42)
    val sirens = Seq.fill(25)(withCheck(f"${rng.nextInt(100000000)}%08d"))
    sirens.foreach(s => assert(luhnSum(s) % 10 == 0))
    val corrupted = sirens.map(s =>
      s.init + (((s.last - '0') + 1) % 10).toString)
    val sirets = Seq.fill(25)(
      withCheck(f"${rng.nextInt(100000000)}%08d${rng.nextInt(100000)}%05d"))
    val df = sirens.zip(corrupted).zip(sirets)
      .map { case ((a, b), c) => (a, b, c) }
      .toDF("ok", "bad", "siret14")
    val got = FormatDetector.detect(df)
    assert(got("ok") == "siren", got.toString)
    assert(got("bad") == "default", got.toString)
    assert(got("siret14") == "siret", got.toString)
  }

  test("detect runs on a session where graft's functions were never registered") {
    val fresh = spark.newSession()
    val df = fresh.createDataFrame(Seq(("12 janvier 2023", "75001"), ("3 mars 2024", "01000")))
      .toDF("seen", "cp")
    val got = FormatDetector.detect(df)
    assert(got("seen") == "date_fr", got.toString)
    assert(got("cp") == "code_postal", got.toString)
  }

  test("postal / insee / departement: specificity resolves containment") {
    val df = Seq(
      ("75001", "2A004", "01"),
      ("01000", "97412", "95"),
      ("98000", "2B033", "2A"),
      ("33700", "75056", "974"))
      .toDF("cp", "insee", "dep")
    val got = FormatDetector.detect(df)
    // every postal code is also a syntactically valid INSEE commune code —
    // the smaller (more specific) vocabulary must win
    assert(got("cp") == "code_postal", got.toString)
    assert(got("insee") == "code_commune_insee", got.toString)
    assert(got("dep") == "code_departement", got.toString)
  }

  test("lat/lon containment, email, url, tel_fr") {
    val df = Seq(
      ("48.8566", "2.3522", "a.b@ex.fr", "https://ex.fr/x", "06 12 34 56 78"),
      ("-89.25", "-179.5", "x@y.org", "http://y.org", "+33 6 11 22 33 44"),
      ("45.0", "102.75", "z9@q.io", "https://q.io/a?b=1", "0033 1 22 33 44 55"))
      .toDF("lat", "lon", "mail", "link", "tel")
    val got = FormatDetector.detect(df)
    // every in-range latitude is an in-range longitude; specificity picks
    // latitude, and the >90 value forces the lon column to longitude only
    assert(got("lat") == "latitude_wgs", got.toString)
    assert(got("lon") == "longitude_wgs", got.toString)
    assert(got("mail") == "email", got.toString)
    assert(got("link") == "url", got.toString)
    assert(got("tel") == "tel_fr", got.toString)
  }

  test("insee_ape: dotted and undotted NAF codes; a digit-only column is not APE") {
    val df = Seq(
      ("6201Z", "62.01Z", "6201"),
      ("0111A", "01.11A", "0111"),
      ("4791B", "47.91B", "4791"))
      .toDF("ape", "ape_dot", "digits4")
    val got = FormatDetector.detect(df)
    assert(got("ape") == "insee_ape", got.toString)
    assert(got("ape_dot") == "insee_ape", got.toString)
    assert(got("digits4") == "default", got.toString)
  }

  test("code_csp outranks code_departement on its contained value set") {
    // every PCS-2003 code is also a syntactically valid département —
    // the 40-value CSP vocabulary must win; a column with a non-CSP
    // département ("09") falls back to code_departement
    val df = Seq(("10", "09"), ("38", "38"), ("86", "86"), ("54", "54"))
      .toDF("csp", "dep")
    val got = FormatDetector.detect(df)
    assert(got("csp") == "code_csp", got.toString)
    assert(got("dep") == "code_departement", got.toString)
  }

  test("date_fr: textual French dates parse; impossible dates and ISO stay out") {
    val df = Seq(
      ("12 janvier 2023", "2023-01-12", "29 février 2023"),
      ("1 août 1999", "1999-08-01", "29 février 2021"),
      ("28 décembre 2010", "2010-12-28", "32 janvier 2020"))
      .toDF("fr", "iso", "bad")
    val got = FormatDetector.detect(df)
    assert(got("fr") == "date_fr", got.toString)
    // ISO dates are dates, but NOT textual-French — the month-name gate
    // keeps python_type/date handling (TypeInference) their classifier
    assert(got("iso") == "default", got.toString)
    // regex gate passes, the parser must still reject the impossible days
    assert(got("bad") == "default", got.toString)
  }

  test("threshold: strict vote rejects a dirty column, relaxed vote recovers it") {
    val values = Seq.fill(19)("75001") :+ "not-a-code"
    val df = values.toDF("cp")
    assert(FormatDetector.detect(df)("cp") == "default")
    assert(FormatDetector.detect(df, threshold = 0.9)("cp") == "code_postal")
    // blanks don't count against the rate
    val withBlanks = (Seq.fill(10)("75001") ++ Seq("", "  ")).toDF("cp")
    assert(FormatDetector.detect(withBlanks)("cp") == "code_postal")
  }

  test("randomized: the Column Luhn agrees with the driver reference on arbitrary digits") {
    val rng = new scala.util.Random(7)
    val vals = Seq.fill(300)(f"${rng.nextInt(1000000000)}%09d")
    val expectedRate = vals.count(v => luhnSum(v) % 10 == 0).toDouble / vals.size
    val rates = FormatDetector.matchRates(vals.toDF("s"))
    assert(rates("s")("siren") == expectedRate,
      s"column ${rates("s")("siren")} vs reference $expectedRate")
    // ~1 in 10 random numbers is Luhn-valid — sanity that both sides see a
    // non-degenerate mix
    assert(expectedRate > 0.02 && expectedRate < 0.30, expectedRate.toString)
  }

  test("inferWithFormats: python_type is preserved, format attaches only when compatible") {
    val df = Seq(
      ("75001", "48.85", "hello"),
      ("01000", "-12.5", "world"))
      .toDF("cp", "lat", "txt")
    val got = FormatDetector.inferWithFormats(df)
    // a digit-only postal column types as int (the engine ingests on
    // python_type alone, analysis/csv.py:314) but still carries the format
    assert(got("cp").pythonType == "int" && got("cp").format == "code_postal", got.toString)
    assert(got("lat").pythonType == "float" && got("lat").format == "latitude_wgs", got.toString)
    assert(got("txt").pythonType == "string" && got("txt").format == "default", got.toString)
  }

  test("uuid / mongo_object_id: hex shapes are disjoint; case rules differ") {
    val df = Seq(
      ("550e8400-e29b-41d4-A716-446655440000", "507f1f77bcf86cd799439011"),
      ("123e4567-e89b-12d3-a456-426614174000", "0123456789abcdef01234567"))
      .toDF("u", "m")
    val got = FormatDetector.detect(df)
    assert(got("u") == "uuid", got.toString)
    assert(got("m") == "mongo_object_id", got.toString)
    // uppercase hex breaks the (lowercase-only) mongo id rule
    val up = Seq("507F1F77BCF86CD799439011").toDF("m2")
    assert(FormatDetector.detect(up)("m2") == "default")
  }

  test("year: 4-digit era years, disjoint from 5-digit codes; int-compatible") {
    val df = Seq(("1999", "75001"), ("2024", "01000"), ("1066", "98000"))
      .toDF("y", "cp")
    val got = FormatDetector.detect(df)
    assert(got("y") == "year", got.toString)
    assert(got("cp") == "code_postal", got.toString)
    assert(FormatDetector.detect(Seq("0999", "2100").toDF("y2"))("y2") == "default")
    val info = FormatDetector.inferWithFormats(df)
    assert(info("y").pythonType == "int" && info("y").format == "year")
  }

  test("booleen / weekday / month-name value sets, case-insensitive") {
    val df = Seq(
      ("OUI", "Lundi", "AOÛT"),
      ("non", "dimanche", "février"),
      ("vrai", "MERCREDI", "janvier"))
      .toDF("b", "w", "mn")
    val got = FormatDetector.detect(df)
    assert(got("b") == "booleen", got.toString)
    assert(got("w") == "jour_de_la_semaine", got.toString)
    assert(got("mn") == "mois_de_annee", got.toString)
    // a bare month name must NOT pass the parser-backed date_fr vote
    val rates = FormatDetector.matchRates(df)
    assert(rates("mn")("date_fr") == 0.0, rates("mn").toString)
  }

  test("sexe / code_rna: value-set and register-id shapes") {
    val df = Seq(("M", "W123456789"), ("Femme", "W000000001"),
      ("f", "W999999999")).toDF("sx", "rna")
    val got = FormatDetector.detect(df)
    assert(got("sx") == "sexe", got.toString)
    assert(got("rna") == "code_rna", got.toString)
    // sexe outranks booleen on the shared single letters: a pure m/f
    // column is sex, a pure o/n column stays boolean
    assert(FormatDetector.detect(Seq("o", "n", "o").toDF("b"))("b") == "booleen")
    // lowercase w / wrong digit count break the register shape
    assert(FormatDetector.detect(Seq("w123456789").toDF("r"))("r") == "default")
    assert(FormatDetector.detect(Seq("W12345678").toDF("r"))("r") == "default")
  }

  test("latlon_wgs pair and adresse heuristics; range gates hold") {
    val df = Seq(
      ("48.8566, 2.3522", "12 rue de la Paix"),
      ("-33.86,151.20", "3 bis avenue Foch"),
      ("90.0, -180.0", "221 boulevard Saint-Germain cedex"))
      .toDF("ll", "ad")
    val got = FormatDetector.detect(df)
    assert(got("ll") == "latlon_wgs", got.toString)
    assert(got("ad") == "adresse", got.toString)
    // out-of-range latitude breaks the pair even though the regex matches
    assert(FormatDetector.detect(
      Seq("91.0, 2.0").toDF("ll2"))("ll2") == "default")
    // a bare number with no way-type word is not an address
    assert(FormatDetector.detect(
      Seq("12 xyz de la Paix").toDF("ad2"))("ad2") == "default")
  }
}
