package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{classic, DataFrame, SparkSession}

/** S2: HTML-table ingestion adapter (ref scraper/main.py:36-49 — the
  * scraper selects every table row of a quotes page and sanitizes the
  * headers before landing).
  *
  * The HTTP fetch itself stays out of engine scope (zero-egress here;
  * production lands raw HTML pages in object storage first — retry,
  * politeness, and auth belong to that collector, not the query engine).
  * This adapter turns LANDED html files into a DataFrame:
  *
  *  - first `<tr>` supplies the column names, sanitized exactly like the
  *    CSV reader ([[Sources.sanitizeName]]) so downstream consumers see
  *    one naming scheme regardless of source;
  *  - every later `<tr>` becomes a string row (typing is downstream's
  *    job, same as the reference's all-text scrape); ragged rows are
  *    padded with null / truncated to the header width;
  *  - parsing runs on executors (one task per landed page via the
  *    wholetext reader), so a million landed pages scale like any other
  *    scan. The driver reads one page, the header donor, and lists
  *    the rest without running a job.
  *
  * A JDK-regex parser is deliberate: the reference's tables are
  * machine-generated (`<tr><td>v</td>...</tr>`); a full DOM parser is a
  * dependency this engine doesn't need for that shape.
  */
object HtmlSource {

  private val TableRe = "(?is)<table[^>]*>(.*?)</table>".r
  private val RowRe = "(?is)<tr[^>]*>(.*?)</tr>".r
  private val CellRe = "(?is)<t[hd][^>]*>(.*?)</t[hd]>".r
  private val TagRe = "(?s)<[^>]+>".r

  /** Cell texts of one `<tr>...</tr>` body: tags stripped, entities for
    * the handful the reference's pages use, whitespace trimmed. */
  def rowCells(tr: String): Seq[String] =
    CellRe.findAllMatchIn(tr).map { m =>
      // &amp; decodes LAST: decoding it first would double-decode
      // payloads like "&amp;lt;" into "<" instead of "&lt;"
      TagRe.replaceAllIn(m.group(1), "")
        .replace("&lt;", "<").replace("&gt;", ">")
        .replace("&nbsp;", " ").replace("&amp;", "&").trim
    }.toSeq

  /** All `<tr>` bodies of the FIRST `<table>` in a page (the reference
    * reads exactly one quotes table per page). */
  def tableRows(html: String): Seq[String] =
    TableRe.findFirstMatchIn(html).toSeq
      .flatMap(t => RowRe.findAllMatchIn(t.group(1)).map(_.group(1)))

  /** Landed HTML pages → DataFrame of strings. `path` may glob many
    * pages; all must share the header (the lexicographically-FIRST
    * page's header wins — Spark orders splits by size, so the donor is
    * chosen by explicit file-name order, deterministic across crawls;
    * mismatched pages produce padded/truncated rows, as in the
    * reference's forgiving scrape). */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val pages = spark.read.option("wholetext", "true").textFile(path)
    // header donor: the first file by DECODED path (Spark orders splits
    // by size, so the order must be explicit). The listing already lives
    // on the driver: `inputFiles` holds the same URI-encoded strings
    // input_file_name() yields (space → %20, % → %25). Ordering by the
    // encoded string picks the wrong donor ('a b.html' < 'a!b.html' by
    // real name, but %20 > '!'), and handing it back to a read would
    // re-interpret it as a glob and drop the URI authority
    // (s3a://bucket/... → s3a:/...). So the donor is ordered decoded and
    // opened through the FileSystem at its exact URI: no job, no glob.
    val fileNames = pages.inputFiles
    require(fileNames.nonEmpty, s"no input pages found under $path")
    def decoded(f: String): String =
      try {
        val p = new URI(f).getPath
        if (p != null && p.nonEmpty) p else f
      } catch { case _: java.net.URISyntaxException => f }
    val donor = new Path(new URI(fileNames.minBy(decoded)))
    // the session's Hadoop conf, as the page reader uses: it carries
    // filesystem settings made through spark.conf at run time
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
    val raw = donor.getFileSystem(conf).open(donor)
    // decompress like the text reader would (a landed page.html.gz)
    val in = Option(new CompressionCodecFactory(conf).getCodec(donor))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val donorHtml = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    val headerCells = tableRows(donorHtml).headOption.map(rowCells).getOrElse(Seq.empty)
    val header = headerCells.map(Sources.sanitizeName)
    require(header.nonEmpty, s"no <table> header row found under $path")
    val n = header.length
    val rows = pages.flatMap { html =>
      tableRows(html).drop(1).map { tr =>
        val cs = rowCells(tr)
        (cs.take(n) ++ Seq.fill(math.max(0, n - cs.length))(null: String)): Seq[String]
      }
    }
    rows.toDF("__cells")
      .select(header.zipWithIndex.map { case (name, i) =>
        org.apache.spark.sql.functions.col("__cells").getItem(i).as(name)
      }: _*)
  }
}
