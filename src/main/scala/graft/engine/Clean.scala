package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's raw-CSV → clean-layer pipeline (SURVEY.md §3 E1/E2):
  * explicit all-string scan (S1), sentinel → null, numeric parse fan-out
  * (P2), IEEE ratio column (P3), 29-column rename projection (P12), and the
  * sentinel-filling CSV write edge (S2/P11).
  *
  * Engine conventions (SURVEY §1.4): the raw layer is stringly typed BY
  * DESIGN — `"brak informacji"` is data, not schema — so the scan uses an
  * explicit all-string StructType, never inferSchema (at 100 TB schema
  * inference is an extra full pass; an explicit schema also keeps the
  * vectorized CSV reader's column pruning exact). Inside the engine missing
  * values are real nulls; the sentinel exists only at the two CSV edges.
  */
object Clean {

  /** `"brak informacji"` — the reference's missing-value sentinel
    * (`main_otodom.py:244-246`). */
  val Sentinel = "brak informacji"

  /** The 29 raw columns in CSV order (`main_otodom.py:254-284`). */
  val rawColumns: Seq[String] = Seq(
    "tytuł", "miesięcznie", "czynsz", "kaucja", "powierzchnia",
    "województwo", "powiat", "miasto", "dzielnica", "ulica", "lokalizacja",
    "liczba pokoi", "typ ogłoszeniodawcy", "ogrzewanie", "piętro",
    "stan wykończenia", "dostępne od", "informacje dodatkowe",
    "rok budowy", "winda", "rodzaj zabudowy", "materiał budynku",
    "okna", "bezpieczeństwo", "wyposażenie", "zabezpieczenia", "media",
    "url", "data_pobrania")

  /** All-string raw schema (S1 — `analytics_otodom.py:19`, by-design raw). */
  val rawSchema: StructType =
    StructType(rawColumns.map(StructField(_, StringType, nullable = true)))

  /** P12 — the 29-column rename projection, exact inverse of the
    * reference's `polish_columns` map (`main_otodom.py:253-285`). */
  val asciiNames: Map[String, String] = Map(
    "tytuł" -> "title", "miesięcznie" -> "price", "czynsz" -> "rent_fee",
    "kaucja" -> "deposit", "powierzchnia" -> "area",
    "województwo" -> "voivodeship", "powiat" -> "county", "miasto" -> "city",
    "dzielnica" -> "district", "ulica" -> "street",
    "lokalizacja" -> "location", "liczba pokoi" -> "rooms",
    "typ ogłoszeniodawcy" -> "advertiser_type", "ogrzewanie" -> "heating",
    "piętro" -> "floor", "stan wykończenia" -> "finishing_state",
    "dostępne od" -> "available_from",
    "informacje dodatkowe" -> "additional_info", "rok budowy" -> "building_year",
    "winda" -> "elevator", "rodzaj zabudowy" -> "building_type",
    "materiał budynku" -> "building_material", "okna" -> "windows",
    "bezpieczeństwo" -> "safety", "wyposażenie" -> "equipment",
    "zabezpieczenia" -> "security", "media" -> "media", "url" -> "url",
    "data_pobrania" -> "scrape_date")

  /** S1 — header CSV scan with the explicit raw schema. */
  def readRaw(s: SparkSession, path: String): DataFrame =
    s.read.option("header", "true").schema(rawSchema).csv(path)

  /** E2 step 1 — the `load_and_clean` equivalent
    * (`analytics_otodom.py:14-51`): sentinel → null on every column, ascii
    * rename, numeric parse fan-out, IEEE ratio, coerced timestamp.
    *
    * One-projection rule: the layer is three `select`s, never a
    * `withColumn` chain. One denulls and renames all 29 columns, one adds
    * the parsed numbers, one adds the ratio and the timestamp. Each
    * `withColumn` call re-analyzes the whole plan below it and stacks
    * another Project (Spark's own `withColumn` doc warns against calling
    * it in a loop): one call per output column would build 37 Projects and
    * pay for 36 analyses on every query that reads the layer. The ratio
    * reads the parse projection's output, so each money parse runs once
    * per row.
    *
    * The ratio uses `price * pow(area, -1)` deliberately: Spark's `/`
    * nulls on a zero divisor, while pandas doubles follow IEEE — x/0 → Inf
    * and 0/0 → NaN (`analytics_otodom.py:42`, `test.py:25`); `Math.pow`
    * restores that parity and DuckDB `power` matches it. */
  def clean(raw: DataFrame): DataFrame =
    raw.select(rawColumns.map { c =>
        when(col(c) === Sentinel, lit(null)).otherwise(col(c)).as(asciiNames(c))
      }: _*)
      .select(col("*"),
        Parse.parseMoney(col("price")).as("price_num"),
        Parse.parseMoney(col("rent_fee")).as("rent_fee_num"),
        Parse.parseMoney(col("deposit")).as("deposit_num"),
        Parse.parseMoney(col("area")).as("area_num"),
        Parse.parseRooms(col("rooms")).as("rooms_num"))
      .select(col("*"),
        (col("price_num") * pow(col("area_num"), lit(-1.0))).as("price_per_m2"),
        Parse.parseTimestamp(col("scrape_date")).as("scraped_at"))

  /** Filter on columns a projection computed ([[clean]]'s parses,
    * [[graft.ops.LmScore.lmGate]]'s score), evaluated on the projection's
    * output. A plain `where` lets PushPredicateThroughNonJoin substitute
    * the computation into a Filter below the projection, so every kept
    * row computes it twice. The nondeterministic barrier column stops the
    * rule; its tautological conjunct never changes the output. Filter on
    * raw columns with a plain `where` first: those still reach the scan. */
  def whereParsed(df: DataFrame, cond: Column): DataFrame = {
    require(!df.columns.contains("__graft_nd"), "input already has column __graft_nd")
    df.withColumn("__graft_nd", rand(42L))
      .where(cond && col("__graft_nd") >= 0.0)
      .drop("__graft_nd")
  }

  /** F6/A12 — case-insensitive city slice with the reference's
    * raise-if-empty guard (`analytics_otodom.py:232-234`: lowercase match,
    * then `subset.empty` → raise). The guard is `isEmpty` (a `limit(1)`
    * job underneath) — it stops at the first matching row, never a full
    * count, so at 100 TB the check costs one scan-until-hit, and the
    * filter itself pushes down to the scan. */
  def citySlice(df: DataFrame, city: String): DataFrame = {
    val slice = df.where(
      lower(col("city")) === city.toLowerCase(java.util.Locale.ROOT))
    require(!slice.isEmpty, s"no listings for city '$city'")
    slice
  }

  /** S2/P11 — the CSV write edge: nulls become the sentinel again
    * (`main_otodom.py:244-286`); header, overwrite. Only string columns are
    * filled — numeric/timestamp stay typed until serialization. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.na.fill(Sentinel)
      .write.option("header", "true").mode("overwrite").csv(path)
}
