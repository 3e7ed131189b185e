package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.zip.ZipFile

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

import graft.SparkEntry
import graft.functions.Normalize
import graft.operators.{Dedup, Enrich}
import graft.sources.{BibSources, Excel}

/** What an untimed output check found for one query execution. `digest`
  * identifies the output, so passes can be compared with each other;
  * `problem` is set when the output is known to be wrong. */
final case class Checked(rows: Long, digest: String, problem: Option[String])

/** One timed query of a workload. `timed` is the measured action and
  * evaluates every output row and column; `check` runs afterwards,
  * untimed, on what `timed` returned. */
final case class Query(name: String, timed: () => Any,
                       check: (Any, Int) => Checked,
                       oracleSql: Option[String] = None)

/** Everything a workload needs: the session, its inputs, where outputs go,
  * and how its calls into program modules are wrapped. */
final class Ctx(val spark: SparkSession, val inputs: Path, val out: Path,
                val tracer: Option[Tracer]) {
  @volatile var querySpan = 0L

  /** Wall time inside a call into program module `module`. */
  def call[A](module: String)(body: => A): A = tracer match {
    case None => body
    case Some(t) =>
      val id = t.begin("call", module, querySpan)
      val t0 = System.nanoTime()
      try body
      finally {
        t.add(s"op.$module.call_s", (System.nanoTime() - t0) / 1e9)
        t.end(id)
      }
  }

  /** Useful-work counters: calls made through the counting clients, and
    * the distinct journals and records those calls should cover. */
  val fetches: LongAccumulator = spark.sparkContext.longAccumulator("fetches")
  val llmCalls: LongAccumulator = spark.sparkContext.longAccumulator("llm")
  var journals = 0L
  var records = 0L
}

object Workloads {
  val names: Seq[String] = Seq("etl_biblio", "iterative_graph_ml")

  /** Iterative queries: many rounds of small jobs, in the Graph and
    * Similarity modules. */
  val graphMl: Seq[String] = Seq("q_graph_pagerank", "q_embed_kmeans")

  def build(workload: String, ctx: Ctx, inject: Seq[String]): Seq[Query] = {
    val base = workload match {
      case "etl_biblio"         => Etl.queries(ctx)
      case "iterative_graph_ml" => graphMl.map(entryQuery(ctx, _))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'; known: ${names.mkString(", ")}")
    }
    base ++ inject.map(injected(ctx, _))
  }

  // ---- collected outputs ----------------------------------------------------

  /** Order-insensitive identity of a collected output. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.iterator.map(_.toString).toArray.sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update(0: Byte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** A collected query whose first-pass output is saved as parquet for the
    * DuckDB oracle comparison made after the run. */
  def collected(ctx: Ctx, name: String, oracle: Option[String])
               (df: () => DataFrame): Query = Query(name,
    () => { val d = df(); (d.schema, d.collect()) },
    (res, pass) => {
      val (schema, rows) = res.asInstanceOf[(StructType, Array[Row])]
      if (pass == 0)
        ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite")
          .parquet(ctx.out.resolve("outputs").resolve(name).toString)
      Checked(rows.length, digest(rows), None)
    }, oracle)

  /** A program query, called through `SparkEntry.queries`, checked against
    * its own `SparkEntry.oracleSql`. */
  def entryQuery(ctx: Ctx, name: String): Query = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"SparkEntry has no query $name"))
    val oracle = SparkEntry.oracleSql.get(name)
    require(oracle.isDefined, s"SparkEntry has no oracle for $name")
    collected(ctx, name, oracle)(() => fn(ctx.spark, ctx.inputs.toString))
  }

  /** Deliberately broken queries for the benchmark's own tests. `throwcol`
    * throws in a projected column only: `count()` would never evaluate it,
    * a full collect must. `wrong` returns an output its oracle rejects. */
  def injected(ctx: Ctx, kind: String): Query = kind match {
    case "throwcol" =>
      val boom = udf((x: Long) =>
        if (x == 7L) throw new IllegalStateException("injected failure")
        else x)
      val df = () => ctx.spark.range(100).select(col("id"),
        boom(col("id")).as("boom"))
      // proof that count() would hide the failure: it prunes `boom`
      require(df().count() == 100L, "count() evaluated the pruned column")
      collected(ctx, "inject_throwcol",
        Some("SELECT range AS id, range AS boom FROM range(100)"))(df)
    case "wrong" =>
      collected(ctx, "inject_wrong",
        Some("SELECT range AS id, range * 2 + 1 AS v FROM range(10)"))(
        () => ctx.spark.range(10).selectExpr("id", "id * 2 AS v"))
    case other => throw new IllegalArgumentException(
      s"unknown injection '$other'; known: throwcol, wrong")
  }
}

/** The reference's own job on generated exports: parse the three export
  * formats, keep one record per DOI by source priority, add journal
  * metrics and LLM-extracted fields, derive the link columns, and write
  * parquet and xlsx. */
object Etl {
  private val sources = Seq("pubmed", "wos", "sciencedirect")

  /** Generator ground truth: `truth.tsv` holds one line per DOI with its
    * expected surviving source, `counts.txt` the expected totals as
    * key=value lines. */
  final class Truth(dir: Path) {
    val counts: Map[String, Long] = Files.readAllLines(dir.resolve("counts.txt"))
      .asScala.map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
    val survivorSource: Map[String, String] =
      Files.readAllLines(dir.resolve("truth.tsv")).asScala
        .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
  }

  def read(ctx: Ctx, source: String): DataFrame = {
    val path = ctx.inputs.resolve(s"$source.txt").toString
    ctx.call("BibSources") {
      source match {
        case "pubmed" => BibSources.pubmed(ctx.spark, path)
        case "wos" => BibSources.wos(ctx.spark, path)
        case "sciencedirect" => BibSources.sciencedirect(ctx.spark, path)
      }
    }
  }

  def pipeline(ctx: Ctx): DataFrame = {
    val combined = ctx.call("BibSources") {
      BibSources.combine(sources.map(read(ctx, _)))
    }
    val normalized = combined
      .withColumn("doi_norm", Normalize.normalizeDoi(col("doi")))
      .withColumn("prio", Normalize.sourcePriority(col("source_type")))
      .withColumn("rid", xxhash64(col("source_type"), col("title"),
        col("doi_norm"), col("pmid"), col("wos_id")))
    val deduped = ctx.call("Dedup") {
      Dedup.priorityDedup(normalized, col("doi_norm"), col("prio"),
        col("rid"))
    }
    val (metrics, llm) = ctx.tracer match {
      case None => (Enrich.StubMetricsClient, Enrich.StubLlmClient)
      case Some(_) => (new CountingMetricsClient(Enrich.StubMetricsClient,
        ctx.fetches), new CountingLlmClient(Enrich.StubLlmClient, ctx.llmCalls))
    }
    val enriched = ctx.call("Enrich") {
      Enrich.llmExtract(
        Enrich.journalMetrics(deduped, "journal", metrics),
        "abstract", Seq("summary", "n_words"), llm)
    }
    enriched
      .withColumn("pubmed_link", Normalize.nullToEmpty(
        Normalize.pubmedLink(col("source_type"), col("pmid"))))
      .withColumn("wos_link", Normalize.nullToEmpty(
        Normalize.wosLink(col("source_type"), col("wos_id"))))
      .withColumn("doi_link",
        Normalize.nullToEmpty(Normalize.doiLink(col("doi_norm"))))
      .withColumn("title_link", Normalize.titleLink(col("wos_link"),
        col("pubmed_link"), lit(""), col("doi_link")))
      .select("source_type", "doi_norm", "title", "journal",
        "publication_year", "full_authors", "impact_factor", "quartile",
        "summary", "n_words", "pubmed_link", "wos_link", "doi_link",
        "title_link")
  }

  /** Every column of a frame folded into one checkable row. */
  private def fold(df: DataFrame): Column =
    expr(s"bit_xor(xxhash64(${df.columns.map(c => s"`$c`").mkString(", ")}))")

  def queries(ctx: Ctx): Seq[Query] = {
    val truth = new Truth(ctx.inputs)
    val expected = truth.counts("survivors")
    ctx.journals = truth.counts("journals")
    ctx.records = expected
    val parses = sources.map { src =>
      Query(s"etl_parse_$src",
        () => {
          val df = read(ctx, src)
          df.agg(count(lit(1)), fold(df)).collect().head
        },
        (res, _) => {
          val r = res.asInstanceOf[Row]
          val want = truth.counts(s"records_$src")
          Checked(r.getLong(0), s"${r.getLong(0)}:${r.get(1)}",
            if (r.getLong(0) == want) None
            else Some(s"parsed ${r.getLong(0)} $src records, expected $want"))
        })
    }
    val parquetPath = ctx.out.resolve("etl.parquet").toString
    val sinkParquet = Query("etl_sink_parquet",
      () => pipeline(ctx).write.mode("overwrite").parquet(parquetPath),
      (_, _) => {
        val rows = ctx.spark.read.parquet(parquetPath).collect()
        val bySource = rows.filter(r => !r.isNullAt(1) && r.getString(1).nonEmpty)
          .map(r => r.getString(1) -> r.getString(0))
        val wrongSource = bySource.count { case (doi, src) =>
          !truth.survivorSource.get(doi).contains(src) }
        val problem =
          if (rows.length != expected)
            Some(s"parquet has ${rows.length} rows, expected $expected")
          else if (bySource.map(_._1).distinct.length != truth.survivorSource.size)
            Some(s"parquet has ${bySource.map(_._1).distinct.length} DOIs, " +
              s"expected ${truth.survivorSource.size}")
          else if (wrongSource > 0)
            Some(s"$wrongSource DOIs kept the wrong source")
          else None
        Checked(rows.length, Workloads.digest(rows), problem)
      })
    val xlsxPath = ctx.out.resolve("etl.xlsx")
    val sinkXlsx = Query("etl_sink_xlsx",
      () => ctx.call("Excel") {
        Excel.writeXlsx(pipeline(ctx), xlsxPath.toString)
      },
      (_, _) => {
        val rows = xlsxDataRows(xlsxPath)
        Checked(rows, s"$rows",
          if (rows == expected) None
          else Some(s"xlsx has $rows data rows, expected $expected"))
      })
    parses ++ Seq(sinkParquet, sinkXlsx)
  }

  /** Data rows of the first worksheet: its `<row` elements minus the
    * header row. */
  def xlsxDataRows(path: Path): Long = {
    val zip = new ZipFile(path.toFile)
    try {
      val sheet = zip.entries().asScala.map(_.getName)
        .filter(_.startsWith("xl/worksheets/sheet")).toSeq.sorted.head
      val xml = new String(zip.getInputStream(zip.getEntry(sheet))
        .readAllBytes(), StandardCharsets.UTF_8)
      "<row[ >]".r.findAllMatchIn(xml).length - 1L
    } finally zip.close()
  }
}

/** Counts metric-API fetches through an accumulator, delegating the
  * answer to the program's stub client. */
final class CountingMetricsClient(inner: Enrich.MetricsClient,
                                  calls: LongAccumulator)
    extends Enrich.MetricsClient {
  def fetch(journal: String): (Double, String) = {
    calls.add(1L); inner.fetch(journal)
  }
}

/** Counts LLM completions through an accumulator, delegating the answer
  * to the program's stub client. */
final class CountingLlmClient(inner: Enrich.LlmClient, calls: LongAccumulator)
    extends Enrich.LlmClient {
  def complete(abstractText: String): String = {
    calls.add(1L); inner.complete(abstractText)
  }
}
