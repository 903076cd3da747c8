package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import graft.engine.{Clean, LocationParse, Parse, Tables}

/** The reference's rental-ingest/clean pipeline operators as driver-contract
  * queries (SURVEY.md §2.2 P8-P12, §3 E1/E2).
  *
  * Location strings are synthesized deterministically from `customer` rows —
  * ten variants, one per branch family of `main_otodom.py:47-114` — with the
  * IDENTICAL construction in the DuckDB oracle, so the parser itself is what
  * the hash compare exercises.
  */
object RentalQueries {
  import Tables._

  /** Deterministic location-string variants (Spark side). Must stay textually
    * in sync with [[locationSrcSql]]. */
  private def locExpr(ck: Column, seg: Column): Column = {
    val v = ck % 10
    when(v === 0, concat(seg, lit(", małopolskie")))
      .when(v === 1, concat(lit("Wola, "), seg, lit(", mazowieckie")))
      .when(v === 2, concat(lit("ul. Krótka, "), seg, lit(", pomorskie")))
      .when(v === 3, concat(lit("Ursynów, ul. Cicha "), (ck % 20).cast("string"),
        lit(", "), seg, lit(", śląskie")))
      .when(v === 4, concat(seg, lit(", powiat krakowski, małopolskie")))
      .when(v === 5, lit("śląskie"))
      .when(v === 6, lit(""))
      .when(v === 7, concat(seg, lit(", Centrum, ul. cicha, mazowieckie")))
      .when(v === 8, concat(lit("Centrum, "), seg, lit(", powiat poznański, ul. polna")))
      .otherwise(concat(lit("ul. Długa "), (ck % 20).cast("string"),
        lit(", Stare Miasto, "), seg, lit(", małopolskie")))
  }

  /** The identical variant construction for the oracle. */
  private val locationSrcSql: String =
    """SELECT c_custkey AS id,
      |  CASE c_custkey % 10
      |    WHEN 0 THEN c_mktsegment || ', małopolskie'
      |    WHEN 1 THEN 'Wola, ' || c_mktsegment || ', mazowieckie'
      |    WHEN 2 THEN 'ul. Krótka, ' || c_mktsegment || ', pomorskie'
      |    WHEN 3 THEN 'Ursynów, ul. Cicha ' || (c_custkey % 20)::VARCHAR || ', ' || c_mktsegment || ', śląskie'
      |    WHEN 4 THEN c_mktsegment || ', powiat krakowski, małopolskie'
      |    WHEN 5 THEN 'śląskie'
      |    WHEN 6 THEN ''
      |    WHEN 7 THEN c_mktsegment || ', Centrum, ul. cicha, mazowieckie'
      |    WHEN 8 THEN 'Centrum, ' || c_mktsegment || ', powiat poznański, ul. polna'
      |    ELSE 'ul. Długa ' || (c_custkey % 20)::VARCHAR || ', Stare Miasto, ' || c_mktsegment || ', małopolskie'
      |  END AS loc
      |FROM customer WHERE c_custkey <= 400""".stripMargin

  /** P8/U1 — the 5-way location split over all ten branch families.
    * The parse is the codegen Column form ([[LocationParse.parseLocation]]):
    * pure expression chain, no UDF, so at 100 TB it fuses into the scan
    * stage's whole-stage-codegen and shuffles nothing. */
  def locationParse(s: SparkSession, d: String): DataFrame = {
    val src = customer(s, d)
      .where(col("c_custkey") <= 400)
      .select(col("c_custkey").as("id"),
        locExpr(col("c_custkey"), col("c_mktsegment")).as("loc"))
    LocationParse.withParsedLocation(src, col("loc"), "r")
      .select(col("id"), col("r.wojewodztwo").as("wojewodztwo"),
        col("r.powiat").as("powiat"), col("r.miasto").as("miasto"),
        col("r.dzielnica").as("dzielnica"), col("r.ulica").as("ulica"))
      .orderBy(col("id"))
  }

  val locationParseSql: String =
    LocationParse.duckDbParseSql(locationSrcSql, "id") + "\nORDER BY id"

  // ---- raw CSV → clean layer (S1/P2/P3/P11/P12/F3) ------------------------

  /** Committed rental-shaped raw CSV fixture (tools/gen_rental_csv.py). */
  val rentalCsvPath: String =
    sys.env.getOrElse("SPARK_GRAFT_RENTAL_CSV", "/root/repo/data/rental_raw.csv")

  private val duckRaw =
    s"read_csv('$rentalCsvPath', header=true, all_varchar=true)"

  /** DuckDB twin of Parse.parseMoney over a sentinel-bearing raw column. */
  private def duckMoney(c: String) =
    s"TRY_CAST(NULLIF(replace(regexp_replace(NULLIF($c, 'brak informacji'), " +
      s"'[^0-9,.\\-]', '', 'g'), ',', '.'), '') AS DOUBLE)"

  /** E2 — the full load_and_clean pipeline (`analytics_otodom.py:14-51`)
    * over the raw CSV: explicit all-string scan, sentinel → null, parse
    * fan-out, IEEE ratio (`x/0 → Inf`, `0/0 → NaN`), then the reference's
    * F3 filter (`test.py:26` — drops null AND NaN, keeps Inf), evaluated
    * on the parsed ratio ([[Clean.whereParsed]]). */
  def cleanLayer(s: SparkSession, d: String): DataFrame =
    Clean.whereParsed(Clean.clean(Clean.readRaw(s, rentalCsvPath)),
        col("price_per_m2").isNotNull && !isnan(col("price_per_m2")))
      .select(col("url"), col("title"), col("price_num"), col("rent_fee_num"),
        col("deposit_num"), col("area_num"), col("rooms_num"),
        round(col("price_per_m2"), 4).as("price_per_m2"),
        date_format(col("scraped_at"), "yyyy-MM-dd HH:mm:ss").as("scraped_at"),
        col("city"), col("district"))
      .orderBy(col("url"))

  val cleanLayerSql: String =
    s"""WITH c AS (SELECT url, "tytuł" AS title,
       |  ${duckMoney("\"miesięcznie\"")} AS price_num,
       |  ${duckMoney("czynsz")} AS rent_fee_num,
       |  ${duckMoney("kaucja")} AS deposit_num,
       |  ${duckMoney("powierzchnia")} AS area_num,
       |  TRY_CAST(NULLIF(regexp_extract(NULLIF("liczba pokoi", 'brak informacji'), '([0-9]+)', 1), '') AS DOUBLE) AS rooms_num,
       |  strftime(try_strptime(NULLIF(data_pobrania, 'brak informacji'), '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS scraped_at,
       |  NULLIF(miasto, 'brak informacji') AS city,
       |  NULLIF(dzielnica, 'brak informacji') AS district
       |  FROM $duckRaw),
       |p AS (SELECT *, price_num * power(area_num, -1.0) AS ppm FROM c)
       |SELECT url, title, price_num, rent_fee_num, deposit_num, area_num, rooms_num,
       |       round(ppm, 4) AS price_per_m2, scraped_at, city, district
       |FROM p WHERE ppm IS NOT NULL AND NOT isnan(ppm)
       |ORDER BY url""".stripMargin

  /** P11/P14/P17/F5/F6/P10 — raw-edge profile: sentinel counts,
    * case-insensitive equality, substring predicates, bullet-split item
    * count — one aggregation pass over the raw scan. */
  def rawProfile(s: SparkSession, d: String): DataFrame =
    Clean.readRaw(s, rentalCsvPath).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("miesięcznie") === Clean.Sentinel, 1L).otherwise(0L)).as("n_missing_price"),
      sum(when(lower(col("typ ogłoszeniodawcy")) === "prywatny", 1L).otherwise(0L)).as("n_private"),
      sum(when(col("url").contains("/pl/oferta/"), 1L).otherwise(0L)).as("n_offer_urls"),
      sum(when(col("tytuł").startsWith("Mieszkanie"), 1L).otherwise(0L)).as("n_title_flat"),
      sum(when(col("dostępne od") === "od zaraz", 1L).otherwise(0L)).as("n_available_now"),
      sum(size(filter(split(col("informacje dodatkowe"), "[;,•·]"),
        x => trim(x) =!= "" && trim(x) =!= Clean.Sentinel))).as("n_bullet_items"))

  val rawProfileSql: String =
    s"""SELECT count(*) AS n_rows,
       |  sum(CASE WHEN "miesięcznie" = 'brak informacji' THEN 1 ELSE 0 END)::BIGINT AS n_missing_price,
       |  sum(CASE WHEN lower("typ ogłoszeniodawcy") = 'prywatny' THEN 1 ELSE 0 END)::BIGINT AS n_private,
       |  sum(CASE WHEN contains(url, '/pl/oferta/') THEN 1 ELSE 0 END)::BIGINT AS n_offer_urls,
       |  sum(CASE WHEN starts_with("tytuł", 'Mieszkanie') THEN 1 ELSE 0 END)::BIGINT AS n_title_flat,
       |  sum(CASE WHEN "dostępne od" = 'od zaraz' THEN 1 ELSE 0 END)::BIGINT AS n_available_now,
       |  sum(len(list_filter(string_split_regex("informacje dodatkowe", '[;,•·]'),
       |      x -> trim(x) <> '' AND trim(x) <> 'brak informacji')))::BIGINT AS n_bullet_items
       |FROM $duckRaw""".stripMargin

  /** P10 — multi-value `", "`-joined column → array → explode → counts
    * (`main_otodom.py:165-208`). */
  def multivalueExplode(s: SparkSession, d: String): DataFrame =
    Clean.clean(Clean.readRaw(s, rentalCsvPath))
      .select(explode(split(col("equipment"), ", ")).as("item"))
      .where(trim(col("item")) =!= "")
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item"))

  val multivalueExplodeSql: String =
    s"""SELECT item, count(*) AS cnt FROM (
       |  SELECT unnest(string_split(NULLIF("wyposażenie", 'brak informacji'), ', ')) AS item
       |  FROM $duckRaw)
       |WHERE trim(item) <> ''
       |GROUP BY item ORDER BY cnt DESC, item""".stripMargin

  /** F6/A12 — per-district stats for one case-insensitively matched city
    * (`analytics_otodom.py:229-241`): the slice guard raises on an empty
    * match; the query side is a plain grouped aggregate over the slice.
    * "WROCŁAW" exercises the unicode case fold (Ł↔ł). */
  def citySlice(s: SparkSession, d: String): DataFrame =
    Clean.citySlice(Clean.clean(Clean.readRaw(s, rentalCsvPath)), "WROCŁAW")
      .groupBy(coalesce(col("district"), lit("(brak)")).as("district"))
      .agg(count(lit(1)).as("n"), round(avg(col("price_num")), 2).as("avg_price"))
      .orderBy(col("district"))

  val citySliceSql: String =
    s"""SELECT coalesce(NULLIF(dzielnica, 'brak informacji'), '(brak)') AS district,
       |       count(*) AS n,
       |       round(avg(${duckMoney("\"miesięcznie\"")}), 2) AS avg_price
       |FROM $duckRaw WHERE lower(miasto) = lower('WROCŁAW')
       |GROUP BY district ORDER BY district""".stripMargin

  // ---- GeoJSON dimension (S5/P13/J1/A2) -----------------------------------

  /** Committed voivodeship GeoJSON fixture (16 MultiPolygon features, shape
    * of the reference's `poland.voivodeships.json`). */
  val geojsonPath: String =
    sys.env.getOrElse("SPARK_GRAFT_GEOJSON", "/root/repo/data/voivodeships.geojson")

  /** The two GeoJSON fields the dimension reads. An explicit schema skips
    * the inference job and never parses the geometry coordinates. */
  private val geojsonSchema = StructType(Seq(StructField("features", ArrayType(
    StructType(Seq(StructField("properties", StructType(Seq(
      StructField("terc", StringType), StructField("name", StringType))))))))))

  /** S5/P13/J1 — the choropleth pipeline (`analytics_otodom.py:168-185`):
    * multiLine GeoJSON scan, `explode(features)`, name normalization
    * (strip "województwo" case-insensitively, trim, capitalize-FIRST — not
    * `initcap`, which would break "Kujawsko-pomorskie"), then the 16-row
    * dimension left-joins the per-voivodeship rent averages (A2: grouped
    * mean, round 0, null keys dropped — pandas groupby parity). Both sides
    * broadcast; unmatched voivodeships survive with null stats ("Brak
    * danych" semantics). The raw voivodeship guard reaches the scan; the
    * parsed-price guard runs on the parse output ([[Clean.whereParsed]]). */
  def geojsonDim(s: SparkSession, d: String): DataFrame = {
    // (?iu): Java needs UNICODE_CASE on top of (?i) to fold Ó↔ó; DuckDB's
    // RE2 folds unicode under plain (?i).
    val normName = Parse.capitalizeFirst(
      trim(regexp_replace(col("f.properties.name"), "(?iu)województwo", "")))
    val geo = s.read.option("multiLine", "true").schema(geojsonSchema).json(geojsonPath)
      .select(explode(col("features")).as("f"))
      .select(col("f.properties.terc").as("terc"), normName.as("wojewodztwo"))
    val agg = Clean.whereParsed(
        Clean.clean(Clean.readRaw(s, rentalCsvPath)).where(col("voivodeship").isNotNull),
        col("price_num").isNotNull)
      .groupBy(Parse.capitalizeFirst(col("voivodeship")).as("wojewodztwo"))
      .agg(round(avg(col("price_num")), 0).as("avg_price"), count(lit(1)).as("n"))
    geo.join(broadcast(agg), Seq("wojewodztwo"), "left")
      .select(col("terc"), col("wojewodztwo"), col("n"), col("avg_price"))
      .orderBy(col("terc"))
  }

  val geojsonDimSql: String =
    s"""WITH geo AS (
       |  SELECT f.properties.terc AS terc,
       |         upper(substr(trim(regexp_replace(f.properties.name, '(?i)województwo', '', 'g')), 1, 1)) ||
       |         lower(substr(trim(regexp_replace(f.properties.name, '(?i)województwo', '', 'g')), 2)) AS wojewodztwo
       |  FROM (SELECT unnest(features) AS f FROM read_json('$geojsonPath'))),
       |agg AS (
       |  SELECT upper(substr(v, 1, 1)) || lower(substr(v, 2)) AS wojewodztwo,
       |         round(avg(p), 0) AS avg_price, count(*) AS n
       |  FROM (SELECT NULLIF("województwo", 'brak informacji') AS v,
       |               ${duckMoney("\"miesięcznie\"")} AS p FROM $duckRaw)
       |  WHERE p IS NOT NULL AND v IS NOT NULL GROUP BY 1)
       |SELECT terc, geo.wojewodztwo, n, avg_price
       |FROM geo LEFT JOIN agg ON geo.wojewodztwo = agg.wojewodztwo
       |ORDER BY terc""".stripMargin
}
