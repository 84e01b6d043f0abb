package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import java.time.format.DateTimeFormatter
import java.time.{LocalDate, LocalDateTime}

/**
 * Column profiler — Spark port of the reference's CSV profiler
 * (`/root/reference/app/utils/csv_profiler.py:4-61`).
 *
 * Per column it emits a logical type in {numeric, date, string} and a semantic
 * type in {city, service, date, other}, with the reference's exact precedence:
 *
 *  1. name-keyword match, city > service > date (`csv_profiler.py:8-21`);
 *  2. content sniff on the first 5 values (`csv_profiler.py:24-29`) — pandas
 *     `to_datetime` parses ANY numeric column (epoch semantics), so numeric
 *     columns with a non-null head sniff as `date` (a reference quirk we keep);
 *  3. in `profile_csv` the dtype branch OVERWRITES `semantic_type` to `date`
 *     for datetime64 columns and for object columns whose head parses as
 *     datetimes (`csv_profiler.py:44-53`).
 *
 * Version note: the reference pins pandas==2.1.4 (`requirements.txt:4`), where
 * `pd.to_datetime(head, errors='coerce', format='mixed')` raises on strings
 * whose format cannot be guessed (so non-date strings stay `string`). Under
 * pandas >= 2.2 the same call never raises and every object column degrades to
 * `date`, which would break the reference's own city/service detection. We
 * port the pinned-2.1.4 semantics: a string column is `date` iff all non-null
 * head values parse with a common datetime format.
 */
object Profiler {

  /** Mirrors the reference's per-column profile dict (`csv_profiler.py:54-58`). */
  case class ColumnInfo(name: String, tpe: String, semanticType: String)

  // Keyword tables, verbatim from `csv_profiler.py:9,14,19`.
  val CityKeywords: Seq[String] =
    Seq("city", "location", "place", "town", "state", "country", "region", "area")
  val ServiceKeywords: Seq[String] =
    Seq("service", "product", "type", "category", "item", "name", "title")
  val DateKeywords: Seq[String] =
    Seq("date", "time", "timestamp", "created", "updated", "occurred")

  // Formats pandas' `guess_datetime_format` recognises for the common cases
  // (ISO dates/timestamps, slashed/dotted dates, month names, compact %Y%m%d).
  // Not exhaustive — pandas' guesser covers more exotic shapes — but the
  // recognized set errs the same direction as the pinned reference: a column
  // must actually look like dates to profile as `date`.
  // Built once: formatters are immutable and thread-safe.
  private val DateOnlyFormats = Seq(
    "yyyy-MM-dd", "yyyy/MM/dd", "MM/dd/yyyy", "M/d/yyyy", "dd-MM-yyyy",
    "dd.MM.yyyy", "yyyyMMdd", "MMMM d, yyyy", "MMM d, yyyy", "d MMMM yyyy").map(fmt)
  private val DateTimeFormats = Seq(
    "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS", "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm", "MM/dd/yyyy HH:mm", "MM/dd/yyyy HH:mm:ss").map(fmt)

  private def fmt(p: String) = DateTimeFormatter.ofPattern(p, java.util.Locale.US)

  def parsesAsDate(s: String): Boolean = {
    val t = s.trim
    DateOnlyFormats.exists { f =>
      try { LocalDate.parse(t, f); true }
      catch { case _: Exception => false }
    } || DateTimeFormats.exists { f =>
      try { LocalDateTime.parse(t, f); true }
      catch { case _: Exception => false }
    }
  }

  /**
   * Port of `detect_column_type` (`csv_profiler.py:4-31`). `sampleValues` is
   * the head (first 5 rows) of the column; `isNumeric` selects the pandas
   * epoch-parse quirk in the content sniff.
   */
  def detectColumnType(name: String, sampleValues: Seq[Any], isNumeric: Boolean): String = {
    val lower = name.toLowerCase
    if (CityKeywords.exists(lower.contains)) "city"
    else if (ServiceKeywords.exists(lower.contains)) "service"
    else if (DateKeywords.exists(lower.contains)) "date"
    else {
      val head = sampleValues.take(5)
      val nonNull = head.filter(_ != null)
      // csv_profiler.py:24-29 — to_datetime(head) must not raise AND head must
      // have a non-null. Numerics always parse (epoch); temporals trivially so.
      val sniffOk =
        if (isNumeric) true
        else nonNull.forall {
          case _: java.sql.Timestamp | _: java.sql.Date | _: java.time.LocalDateTime |
               _: java.time.Instant => true
          case v => parsesAsDate(v.toString)
        }
      if (sniffOk && nonNull.nonEmpty) "date" else "other"
    }
  }

  /**
   * Port of `profile_csv` (`csv_profiler.py:33-61`) over a Spark DataFrame.
   * One driver-side `limit(5).collect()` supplies the pandas `.head()` sample;
   * everything else reads `df.schema` — no distributed work beyond the sample.
   */
  def profile(df: DataFrame): Seq[ColumnInfo] = {
    // bounded-collect: profiler-head-sample
    val head = df.limit(5).collect()
    df.schema.fields.zipWithIndex.map { case (f, i) =>
      val sample: Seq[Any] = head.toSeq.map(_.get(i))
      val nonNull = sample.filter(_ != null)
      val isNumeric = f.dataType.isInstanceOf[NumericType]
      var semantic = detectColumnType(f.name, sample, isNumeric)
      val tpe = f.dataType match {
        case _: NumericType => "numeric" // csv_profiler.py:41-42
        case _: TimestampType | _: DateType | _: TimestampNTZType => // dtype.startswith('datetime'), :50-52
          semantic = "date"
          "date"
        case _: StringType => // object branch, :43-49
          if (nonNull.forall(v => parsesAsDate(v.toString))) { semantic = "date"; "date" }
          else "string"
        case _ => "string"
      }
      ColumnInfo(f.name, tpe, semantic)
    }.toSeq
  }
}
