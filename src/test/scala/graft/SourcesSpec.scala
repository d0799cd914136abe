package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{HtmlSource, NioLocalFileSystem, Sources}

class SourcesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("sanitizeName reproduces the reference's rule") {
    assert(Sources.sanitizeName("**Last Trade (Rs.)") == "**Last_Trade_(Rs_)")
    assert(Sources.sanitizeName("Change(%)") == "Change(%)")
    assert(Sources.sanitizeName("a$b#c[d]e/f.g h") == "a_b_c_d_e_f_g_h")
  }

  test("csv round trip with dirty headers and explicit schema") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
    Seq((1L, 2.5), (2L, 3.5)).toDF("id col", "price.value")
      .write.option("header", "true").mode("overwrite").csv(tmp)
    val schema = StructType(Seq(
      StructField("id col", LongType), StructField("price.value", DoubleType)))
    val back = Sources.readCsv(spark, tmp, Some(schema))
    assert(back.columns.toSeq == Seq("id_col", "price_value"))
    assert(back.as[(Long, Double)].collect().toSet == Set((1L, 2.5), (2L, 3.5)))
  }

  test("json snapshot read with and without an explicit schema (S4/S7)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-json")
    java.nio.file.Files.write(tmp.resolve("snap.json"), Seq(
      """{"symbol": "ABC", "last trade": 12.5, "vol.day": 100}""",
      """{"symbol": "DEF", "last trade": 99.0}""").mkString("\n").getBytes("UTF-8"))
    // schema-on-read: inferred types, columns in inference (name) order
    val inferred = Sources.readJson(spark, tmp.toString)
    assert(inferred.columns.toSeq == Seq("last_trade", "symbol", "vol_day"))
    assert(inferred.schema("vol_day").dataType == LongType)
    assert(inferred.select("symbol", "last_trade", "vol_day").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.get(2))).toSet ==
      Set(("ABC", 12.5, 100L), ("DEF", 99.0, null)))
    // explicit schema: its order and types win; a key it omits is not read
    val schema = StructType(Seq(
      StructField("symbol", StringType), StructField("last trade", DoubleType)))
    val typed = Sources.readJson(spark, tmp.toString, Some(schema))
    assert(typed.columns.toSeq == Seq("symbol", "last_trade"))
    assert(typed.as[(String, Double)].collect().toSet == Set(("ABC", 12.5), ("DEF", 99.0)))
    IoUtil.deleteRecursively(tmp)
  }

  test("html table adapter: scrape → sanitize headers → landing round trip (S2)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-html").toString
    // the reference's quote-table shape: styled cells, dirty headers,
    // a ragged row, entities
    val page =
      """<html><body><div>noise</div>
        |<table class="quotes">
        |  <tr><th>Symbol</th><th>**Last Trade (Rs.)</th><th>Change(%)</th></tr>
        |  <tr><td><b>ABC&amp;Co</b></td><td>12.50</td><td>1.2</td></tr>
        |  <tr><td>DEF</td><td>99.00</td></tr>
        |  <tr><td>GHI</td><td>5.25</td><td>-0.4</td></tr>
        |</table></body></html>""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(tmp, "page1.html"),
      page.getBytes("UTF-8"))
    val df = HtmlSource.readTable(spark, tmp)
    assert(df.columns.toSeq == Seq("Symbol", "**Last_Trade_(Rs_)", "Change(%)"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSet == Set(
      ("ABC&Co", "12.50", "1.2"),
      ("DEF", "99.00", null),       // ragged row padded
      ("GHI", "5.25", "-0.4")))
    // landed like any other source: sanitized frame flows into the
    // day-partitioned landing sink unchanged
    val landing = tmp + "/landing"
    Sources.writeLanding(df.withColumn("day", lit("2026-08-12")), landing)
    assert(spark.read.parquet(landing).count() == 3)
  }

  test("html table adapter: multi-page donor is the first DECODED name; encoded names land") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-html-multi").toString
    def page(header: Seq[String], rows: Seq[Seq[String]]): String =
      (s"<table><tr>${header.map(h => s"<th>$h</th>").mkString}</tr>" +:
        rows.map(r => s"<tr>${r.map(c => s"<td>$c</td>").mkString}</tr>") :+
        "</table>").mkString("<html><body>", "\n", "</body></html>")
    // 'a b.html' sorts first by real name (space < '!') but after
    // 'a!b.html' by encoded name ('%20' > '!'); 'z%.html' is 'z%25.html'
    // encoded. Each page has its own header, so the donor is observable.
    Seq(
      "a b.html" -> page(Seq("Alpha", "Beta", "Gamma"), Seq(Seq("a1", "a2", "a3"))),
      "a!b.html" -> page(Seq("Bang", "Bong", "Bung"), Seq(Seq("b1", "b2", "b3"))),
      "z%.html" -> page(Seq("Zed", "Zod", "Zud"),
        Seq(Seq("z1", "z2", "z3"), Seq("z4")))) // ragged: padded to 3
      .foreach { case (name, html) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(tmp, name), html.getBytes("UTF-8"))
      }
    // readTable's donor choice decodes the same strings input_file_name()
    // yields; the Dataset's file listing must be exactly those strings
    val pages = spark.read.option("wholetext", "true").text(tmp)
    assert(pages.inputFiles.toSet ==
      pages.select(input_file_name()).as[String].collect().toSet)
    val df = HtmlSource.readTable(spark, tmp)
    assert(df.columns.toSeq == Seq("Alpha", "Beta", "Gamma"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSet == Set(
      ("a1", "a2", "a3"), ("b1", "b2", "b3"),
      ("z1", "z2", "z3"), ("z4", null, null)))
  }

  test("writeLanding is idempotent per day partition") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-landing").toString + "/t"
    val day1 = Seq((1L, "2024-01-01"), (2L, "2024-01-01")).toDF("id", "day")
    Sources.writeLanding(day1, tmp)
    Sources.writeLanding(day1, tmp) // re-run same day: replaces, no dup
    assert(spark.read.parquet(tmp).count() == 2)
  }

  test("NioLocalFileSystem gives files and dirs the permissions Hadoop's local filesystem gives") {
    import java.nio.file.Files
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    def init(fs: RawLocalFileSystem) = {
      fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
      fs
    }
    val stock = init(new RawLocalFileSystem)
    val nio = init(new NioLocalFileSystem.Raw)
    val tmp = Files.createTempDirectory("graft-niofs")
    def perms(name: String) = PosixFilePermissions.toString(Files.getPosixFilePermissions(tmp.resolve(name)))
    for (mode <- Seq("644", "755", "600", "700")) {
      val m = new FsPermission(Integer.parseInt(mode, 8).toShort)
      // (file, dir) bits as created through `fs`; the configured umask
      // (022) leaves these four modes whole
      def made(fs: RawLocalFileSystem, name: String): (String, String) = {
        fs.create(new Path(tmp.resolve(s"$name-f$mode").toUri), m, true, 4096,
          1.toShort, 1L << 20, null).close()
        assert(fs.mkdirs(new Path(tmp.resolve(s"$name-d$mode").toUri), m))
        (perms(s"$name-f$mode"), perms(s"$name-d$mode"))
      }
      val viaNio = made(nio, "nio")
      assert(viaNio == made(stock, "stock"), s"mode $mode")
      assert(viaNio == (m.toString, m.toString), s"mode $mode")
    }
    // rwx alone cannot carry the sticky bit: it must take Hadoop's path
    val sticky = Files.createDirectory(tmp.resolve("sticky"))
    nio.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert((Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int] & Integer.parseInt("1000", 8)) != 0)
  }

  test("startIngest lands the same files, permissions and rows through NioLocalFileSystem as through Hadoop's") {
    import java.nio.file.{Files, Path}
    import java.nio.file.attribute.PosixFilePermissions
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.Ingest
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dayNs = 86400L * 1000000000L
    // one batch over 6 days x 3 users, with alerts, an in-batch duplicate and poison
    val rows = (for (d <- 1L to 6L; u <- 1L to 3L)
      yield RawEvent(Some(d * 10 + u), Some(d * dayNs), Some(u), "view", Some(150.0 * u + d))) ++
      Seq(RawEvent(Some(99L), Some(dayNs + 1L), Some(1L), "view", Some(7.0)),
        RawEvent(Some(98L), None, Some(1L), "view", Some(8.0)))
    def land(root: Path): Unit = {
      val src = MemoryStream[RawEvent]
      src.addData(rows: _*)
      val q = Ingest.startIngest(src.toDF(), s"$root/landing", s"$root/alerts",
        trigger = Trigger.AvailableNow(), checkpoint = s"$root/ckpt",
        quarantinePath = s"$root/deadletter")
      try {
        assert(q.awaitTermination(60000), "stream did not finish within 60s")
        assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
      } finally q.stop()
    }
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def tree(root: Path): Seq[(String, String)] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.map { p =>
        (root.relativize(p).toString.replaceAll(uuid, "<uuid>"),
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) +
            (if (Files.isDirectory(p)) "/" else ""))
      }.toSeq.sorted finally walk.close()
    }
    def table(root: Path, t: String) = spark.read.parquet(s"$root/$t").collect().map(_.toString).sorted.toSeq

    val viaNio = Files.createTempDirectory("graft-ingest-nio")
    assert(NioLocalFileSystem.writeOptions(spark).nonEmpty)
    land(viaNio)
    // a session that names its own fs.file.impl keeps it: the stock run
    val stock = Files.createTempDirectory("graft-ingest-stock")
    spark.conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    try {
      assert(NioLocalFileSystem.writeOptions(spark).isEmpty)
      land(stock)
    } finally spark.conf.unset("fs.file.impl")
    for (t <- Seq("landing", "alerts", "deadletter")) {
      val files = tree(viaNio.resolve(t))
      assert(files.exists(_._1.endsWith(".parquet.crc")), s"$t: $files")
      assert(files == tree(stock.resolve(t)), t)
      assert(table(viaNio, t) == table(stock, t), t)
    }
    assert(table(viaNio, "landing").size == 18)
    assert(table(viaNio, "alerts").size == 6)
  }

  test("qCsvRoundtrip: text write/read returns the parquet source verbatim") {
    import org.apache.spark.sql.functions.{col, expr}
    val got = graft.queries.SourceQueries.qCsvRoundtrip(spark, TestSpark.Sf)
      .collect()
    val want = graft.Tables.events(spark, TestSpark.Sf)
      .select(col("event_id"), expr("ts DIV 1000").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id").collect()
    assert(got.length == want.length && got.length > 0)
    // cell-exact including the double column (shortest-round-trip text
    // rendering parses back to identical bits)
    assert(got.zip(want).forall { case (a, b) => a == b })
  }

  test("qJsonRoundtrip: JSON-lines write/read returns the parquet source verbatim") {
    import org.apache.spark.sql.functions.{col, expr}
    val got = graft.queries.SourceQueries.qJsonRoundtrip(spark, TestSpark.Sf)
      .collect()
    val want = graft.Tables.events(spark, TestSpark.Sf)
      .select(col("event_id"), expr("ts DIV 1000").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id").collect()
    assert(got.length == want.length && got.length > 0)
    // cell-exact including the double column (Spark's JSON number
    // rendering is shortest-round-trip like the CSV writer's)
    assert(got.zip(want).forall { case (a, b) => a == b })
  }

  test("orc round trip preserves data and pushes filters into the scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString + "/o"
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "s", "v")
    Sources.writeOrc(df, tmp)
    val back = Sources.readOrc(spark, tmp).filter(col("id") > 1).select("id", "v")
    assert(back.as[(Long, Double)].collect().toSet == Set((2L, 2.5), (3L, 3.5)))
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"), plan.take(1200))
    assert(!plan.contains("\"s\""), "column s not pruned from ORC read schema")
  }

  test("exportJson scrubs NaN doubles to 0 but leaves genuine nulls null") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-json").toString + "/j"
    Sources.exportJson(
      Seq((1L, Some(Double.NaN)), (2L, Some(1.5)), (3L, None))
        .toDF("id", "v"), tmp)
    val back = spark.read.json(tmp).orderBy("id").select("v")
      .as[Option[Double]].collect()
    // a missing measurement must stay distinguishable from a true zero
    assert(back.toSeq == Seq(Some(0.0), Some(1.5), None))
  }

  test("parseDateMulti handles all three reference formats") {
    val r = Seq("2023-03-10", "20230310", "01/JAN/1984", "garbage")
      .toDF("s").select(Sources.parseDateMulti($"s").cast("string")).as[Option[String]].collect()
    assert(r.toSeq == Seq(Some("2023-03-10"), Some("2023-03-10"), Some("1984-01-01"), None))
  }

  test("parseDateFromCsvName strips the .csv suffix") {
    val r = Seq("20230310.csv").toDF("s")
      .select(Sources.parseDateFromCsvName($"s").cast("string")).as[String].head()
    assert(r == "2023-03-10")
  }

  test("toExchangeTime shifts UTC to Asia/Colombo (+5:30)") {
    val r = Seq("2023-03-10 10:00:00").toDF("s")
      .select(Sources.toExchangeTime($"s".cast("timestamp")).cast("string")).as[String].head()
    assert(r == "2023-03-10 15:30:00")
  }

  test("parseMagnitude expands K/M/B/T suffixes and passes bare numbers") {
    val r = Seq("41.77B", "5.28M", "12K", "3T", "7.5")
      .toDF("s").select(Sources.parseMagnitude($"s")).as[Double].collect()
    assert(r.toSeq == Seq(4.177e10, 5.28e6, 1.2e4, 3e12, 7.5))
  }

  test("parseMagnitude: lowercase suffix, sign, and partial-number inputs") {
    val r = Seq("41.77b", "5.2k", "-5.0B", "1,234.5M", " 12K ")
      .toDF("s").select(Sources.parseMagnitude($"s")).as[Option[Double]].collect()
    // lowercase parses (case-insensitive), sign is kept, and a
    // comma-grouped number NULLS rather than silently parsing the "1"
    // prefix as 1e6
    assert(r.toSeq == Seq(Some(4.177e10), Some(5.2e3), Some(-5.0e9), None, Some(1.2e4)))
  }

  test("writeCompacted: n sorted files with disjoint sort-key ranges, no row loss") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val events = Tables.events(spark, TestSpark.Sf).select("event_id", "ts", "value")
    Sources.writeCompacted(events, tmp, Seq("ts"), nFiles = 4)
    val files = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    // "up to nFiles" is the operator's contract: repartitionByRange's
    // SAMPLED bounds can legally leave a range empty on a small fixture
    // (ADVICE r5) — assert the cap and that compaction actually split,
    // not an exact count the sampler doesn't promise
    assert(files.length >= 2 && files.length <= 4,
      s"expected 2..4 files, got ${files.length}")
    // read back: no row loss
    assert(spark.read.parquet(tmp).count() == events.count())
    // each file individually sorted by ts, and file ranges are disjoint
    // (that is what makes row-group min/max stats prune range predicates)
    val ranges = files.sorted.map { f =>
      val ts = spark.read.parquet(f.getPath).select("ts").as[Long].collect()
      assert(ts.sameElements(ts.sorted), s"${f.getName} not sorted within file")
      (ts.min, ts.max)
    }
    val sortedRanges = ranges.sortBy(_._1)
    sortedRanges.sliding(2).foreach {
      case Array((_, prevMax), (curMin, _)) =>
        assert(prevMax <= curMin, s"file ranges overlap: $prevMax > $curMin")
      case _ => ()
    }
  }

  test("writeZOrdered: file min/max stats prune on BOTH dimensions, single-key layout on one") {
    val base = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val events = Tables.events(spark, TestSpark.Sf).select("event_id", "ts", "user_id", "value")
    Sources.writeZOrdered(events, s"$base/z", "user_id", "ts", nFiles = 8)
    Sources.writeCompacted(events, s"$base/r", Seq("user_id"), nFiles = 8)
    assert(spark.read.parquet(s"$base/z").count() == events.count(), "z-order lost rows")
    def fileRanges(dir: String, c: String): Seq[(Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map { f =>
          val v = spark.read.parquet(f.getPath).select(c).as[Long].collect()
          (v.min, v.max)
        }.toSeq
    def hits(ranges: Seq[(Long, Long)], probe: Long): Int =
      ranges.count { case (lo, hi) => lo <= probe && probe <= hi }
    val users = events.select("user_id").as[Long].collect().sorted
    val tss = events.select("ts").as[Long].collect().sorted
    val (probeUser, probeTs) = (users(users.length / 2), tss(tss.length / 2))
    val zUser = fileRanges(s"$base/z", "user_id")
    val zTs = fileRanges(s"$base/z", "ts")
    // the z-layout must skip files on EITHER dimension: a point probe
    // on each column may not span every file
    assert(hits(zUser, probeUser) < zUser.length,
      s"z-order user probe hit all ${zUser.length} files")
    assert(hits(zTs, probeTs) < zTs.length,
      s"z-order ts probe hit all ${zTs.length} files")
    // the single-key layout prunes its sort key but NOT the other
    // column — the z-layout must prune ts strictly better (not the
    // fixture-dependent "spans every file", which a user/ts correlation
    // in a regenerated fixture could legally break)
    val rTs = fileRanges(s"$base/r", "ts")
    assert(hits(rTs, probeTs) > hits(zTs, probeTs),
      s"z-layout should prune ts better: range=${hits(rTs, probeTs)} z=${hits(zTs, probeTs)}")
    graft.IoUtil.deleteRecursively(java.nio.file.Paths.get(base))
  }

  test("writeCompacted: maxRecordsPerFile rolls oversized ranges into capped sorted files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-cap").toString + "/t"
    val events = Tables.events(spark, TestSpark.Sf).select("event_id", "ts")
    val n = events.count()
    Sources.writeCompacted(events, tmp, Seq("ts"), nFiles = 2, maxRecordsPerFile = 100)
    val files = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    // 2 range tasks × rolling at 100 rows: many more than 2 files, each ≤ 100
    assert(files.length > 2, s"cap did not roll files: ${files.length}")
    files.foreach { f =>
      val ts = spark.read.parquet(f.getPath).select("ts").as[Long].collect()
      assert(ts.length <= 100, s"${f.getName} holds ${ts.length} rows > cap")
      assert(ts.sameElements(ts.sorted), s"${f.getName} not sorted within file")
    }
    assert(spark.read.parquet(tmp).count() == n)
  }

  test("day-partitioned landing joined to a filtered dim prunes partitions dynamically (DPP)") {
    // the scale contract of the writeLanding layout: a dimension-side
    // filter on the partition key reaches the FACT scan at runtime
    // (dynamic partition pruning), so a day-scoped rollup over a year
    // of landing data lists only the qualifying day directories
    val tmp = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val ev = Tables.events(spark, TestSpark.Sf)
      .withColumn("day", Tables.eventDay)
    Sources.writeLanding(ev, tmp)
    val fact = spark.read.parquet(tmp)
    val days = fact.select("day").distinct().orderBy("day")
      .as[java.sql.Date].take(3)
    assert(days.length == 3, "fixture must span at least 3 days")
    // the dim must be a FILE source: an in-memory dim's filter is
    // constant-folded into a LocalRelation, leaving no selective
    // predicate for the pruning rule to key on
    days.zipWithIndex
      .map { case (d, i) => (d, if (i == 0) 1 else 0) }.toSeq.toDF("day", "flag")
      .write.mode("overwrite").parquet(tmp + "_dim")
    val dim = spark.read.parquet(tmp + "_dim")
    val joined = fact.join(dim.filter(col("flag") === 1), "day")
    val got = joined.count()
    assert(got == fact.filter(col("day") === lit(days.head)).count() && got > 0)
    val plan = joined.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(plan.contains("dynamicpruning"),
      s"fact scan must carry a dynamic partition filter:\n${plan.take(3000)}")
  }

  test("reconstructColumn: absent column is derived, present column only fills NULLs") {
    // wave 5 (SURVEY §1.3): the reference derives price from
    // Previous_Close + Change when the record lacks the field
    // (spark_stream.py:123-128); both drift shapes must work
    val drifted = Seq((1L, 10L, 3L), (2L, 20L, 3L)).toDF("id", "base", "chg")
    val derived = Sources.reconstructColumn(drifted, "v", col("base") + col("chg"))
    assert(derived.columns.contains("v"))
    assert(derived.select("id", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 13L), (2L, 23L)))
    // present column: NULLs fall back, non-NULLs survive UNTOUCHED
    // (a reconstruction that rewrites healthy values is corruption)
    val mixed = Seq((1L, Some(99L), 10L, 3L), (2L, None, 20L, 3L))
      .toDF("id", "v", "base", "chg")
    val filled = Sources.reconstructColumn(mixed, "v", col("base") + col("chg"))
    assert(filled.select("id", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 99L), (2L, 23L)))
  }
}
