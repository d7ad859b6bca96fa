package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.app.Pipeline
import graft.gen.DataGen
import graft.operators.{Analytics, Dashboard, Dedup, Integrity, Similarity, SupplierDomain, SupplierPerf}
import graft.sources.{AtomicWarehouse, SupplierCsv, Tables}
import graft.streaming.EventStream
import Harness.{Ctx, Op}

/** A workload: the calls of one pass, and figures read off the run's
  * output once the loop has ended.
  */
trait Workload {
  /** Passes a run makes even when `--seconds` run out sooner. */
  def minPasses: Int = 1
  def pass(i: Int): Seq[Op]
  def extras(): Json.Raw = Json.obj()
}

object Workloads {
  val names = Seq("supplier_etl", "catalog_reads")

  /** The fixture queries whose output the oracle fingerprints cover. */
  val oracleQueries: Set[String] = Set("q01_row_counts", "q02_orders_without_lines",
    "q03_lines_without_order", "q04_supplier_kpis", "q05_bottom5_on_time", "q06_top5_delay",
    "q07_supplier_risk", "q08_top10_risk", "q09_dashboard_base", "q10_presentation",
    "q11_filter_domains", "q12_filtered_risk", "q13_kpi_tiles", "q14_topn_risk",
    "q15_drilldown", "q16_table_viewer", "q22_minhash_candidates", "q54_dedup_clusters",
    "q61_kmeans_train", "q103_item_pagerank", "q49_stream_rates")

  def apply(name: String, spark: SparkSession, fixture: String, work: String, seed: Long,
      traced: Boolean): Workload =
    name match {
      case "supplier_etl" => new SupplierEtl(spark, work, seed, traced)
      case "catalog_reads" => new CatalogReads(spark, fixture, work, seed)
    }

  def collected(df: DataFrame): (StructType, Array[Row]) = (df.schema, df.collect())

  def fingerprint(r: Any): Fingerprint.Fp = {
    val (s, rows) = r.asInstanceOf[(StructType, Array[Row])]
    Fingerprint.of(s, rows)
  }
}

/** One cold pass over the fixture catalog, in two parts.
  *
  * Q1–Q16, staged in CTAS order as `graft.Bench` stages its core: many
  * sub-second queries, where per-query fixed cost dominates.
  *
  * Then the extension surface as a batch: minhash candidates and their
  * connected-component clusters, k-means and PageRank (executor-CPU
  * kernels and iterate-on-stored-state rounds), and a micro-batch drain
  * of the event stream.
  *
  * Calls inside one stage are independent, so the seed permutes them;
  * stages keep their order because later ones read what earlier ones
  * wrote.
  */
final class CatalogReads(spark: SparkSession, sf: String, work: String, seed: Long)
    extends Workload {
  private val wh = s"$work/wh"
  private def kpisT = spark.read.parquet(s"$wh/kpis")
  private def riskT = spark.read.parquet(s"$wh/risk")

  /** A call whose output is its collected rows. */
  private def read(query: String, span: String)(mk: Ctx => DataFrame): Op =
    Op(query, span, ctx => Workloads.collected(mk(ctx)), Workloads.fingerprint)

  /** A CTAS call: the output is the table it wrote, read back after the timer. */
  private def ctas(query: String, span: String, path: String)(mk: Ctx => DataFrame): Op =
    Op(query, span, ctx => mk(ctx).write.mode("overwrite").parquet(path),
      _ => Workloads.fingerprint(Workloads.collected(spark.read.parquet(path))))

  private val core: Seq[Seq[Op]] = Seq(
    Seq(
      read("q01_row_counts", "operators.Integrity.rowCounts")(_ => Integrity.rowCounts(spark, sf)),
      read("q02_orders_without_lines", "operators.Integrity.ordersWithoutLines")(
        _ => Integrity.ordersWithoutLines(spark, sf)),
      read("q03_lines_without_order", "operators.Integrity.linesWithoutOrder")(
        _ => Integrity.linesWithoutOrder(spark, sf))),
    Seq(ctas("q04_supplier_kpis", "operators.SupplierPerf.kpis", s"$wh/kpis")(
      _ => SupplierPerf.kpis(spark, sf).coalesce(1))),
    Seq(
      read("q05_bottom5_on_time", "operators.SupplierPerf.bottom5OnTimeFrom")(
        _ => SupplierPerf.bottom5OnTimeFrom(kpisT)),
      read("q06_top5_delay", "operators.SupplierPerf.top5DelayFrom")(
        _ => SupplierPerf.top5DelayFrom(kpisT))),
    Seq(ctas("q07_supplier_risk", "operators.SupplierPerf.riskFrom", s"$wh/risk")(
      _ => SupplierPerf.riskFrom(kpisT).coalesce(1))),
    Seq(read("q08_top10_risk", "operators.SupplierPerf.top10RiskFrom")(
      _ => SupplierPerf.top10RiskFrom(riskT))) ++
      Seq("q09_dashboard_base", "q10_presentation", "q12_filtered_risk", "q13_kpi_tiles",
        "q14_topn_risk", "q15_drilldown").map(q =>
        read(q, "operators.Dashboard.queriesFromRisk")(_ => Dashboard.queriesFromRisk(riskT)(q))) ++
      Seq("q11_filter_domains", "q16_table_viewer").map(q =>
        read(q, "operators.Dashboard.queries")(_ => Dashboard.queries(q)(spark, sf))))

  private val extension: Seq[Seq[Op]] = Seq(
    Seq(
      ctas("q22_minhash_candidates", "operators.Dedup.minhashCandidates", s"$wh/pairs")(
        _ => Dedup.minhashCandidates(spark, sf)),
      read("q61_kmeans_train", "operators.Similarity.kmeansTrain")(
        _ => Similarity.kmeansTrain(spark, sf)),
      read("q103_item_pagerank", "operators.Analytics.itemPagerank")(
        _ => Analytics.itemPagerank(spark, sf)),
      read("q49_stream_rates", "streaming.EventStream.streamedRates")(
        _ => EventStream.streamedRates(spark, sf))),
    Seq(
      ctas("q54_dedup_clusters", "operators.Dedup.clustersOfVerified", s"$wh/clusters")(
        ctx => Dedup.clustersOfVerified(Dedup.ngramJaccardOfPairs(
          spark.read.parquet(s"$wh/pairs"),
          ctx.span("sources.Tables.documents")(Tables.documents(spark, sf)))))))

  private val order = {
    val rnd = new scala.util.Random(seed)
    (core ++ extension).flatMap(stage => rnd.shuffle(stage))
  }
  def pass(i: Int): Seq[Op] = order
}

/** The paper's nightly DAG: generate → load → kpis → risk at the
  * reference scale, cycle i on seed + i, overwriting one warehouse.
  *
  * A traced run alternates two forms of the same cycle on the same seed:
  * even cycles call the `app.Pipeline` stages; odd cycles call the
  * public functions those stages are built from, each in its own span,
  * so the layers beneath `app.Pipeline` get their own figures. Both
  * forms must yield the same risk table.
  */
final class SupplierEtl(spark: SparkSession, work: String, seed: Long, traced: Boolean)
    extends Workload {
  val nSuppliers = 15
  val nPos = 600
  private val dir = s"$work/etl"
  private val wh = s"$dir/wh"
  private val riskBySeed = scala.collection.mutable.LinkedHashMap[Long, String]()
  private var generated = Map.empty[String, Long]

  // the cold cycle, then a warm one (both forms of it when traced)
  override def minPasses: Int = if (traced) 4 else 2

  private def cycleSeed(i: Int) = if (traced) seed + i / 2 else seed + i
  private def decomposed(i: Int) = traced && i % 2 == 1

  override def pass(i: Int): Seq[Op] = {
    val s = cycleSeed(i)
    if (decomposed(i)) Seq(
      Op("generate", "perfbench.decomposed.generate", ctx => decGenerate(ctx, s), _ => checkGenerate()),
      Op("load", "perfbench.decomposed.load", ctx => decLoad(ctx), checkLoad),
      Op("kpis", "perfbench.decomposed.kpis", ctx => decKpis(ctx), checkKpis),
      Op("risk", "perfbench.decomposed.risk", ctx => decRisk(ctx), checkRisk(s)))
    else Seq(
      Op("generate", "app.Pipeline.generate",
        _ => Pipeline.generate(spark, dir, nSuppliers, nPos, s), _ => checkGenerate()),
      Op("load", "app.Pipeline.load", _ => Pipeline.load(spark, dir), checkLoad),
      Op("kpis", "app.Pipeline.kpis", _ => Workloads.collected(Pipeline.kpis(spark, dir)), checkKpis),
      Op("risk", "app.Pipeline.risk", _ => Workloads.collected(Pipeline.risk(spark, dir)), checkRisk(s)))
  }

  private def csvRows(table: String): Long =
    Option(new File(s"$dir/csv/$table").listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .map { f =>
        val lines = Files.lines(f.toPath)
        try lines.count() - 1 finally lines.close()
      }.sum

  private def checkGenerate(): Fingerprint.Fp = {
    generated = SupplierCsv.schemas.keys.map(t => t -> csvRows(t)).toMap
    require(generated("suppliers") == nSuppliers && generated("purchase_orders") == nPos,
      s"generated counts $generated")
    Fingerprint.Fp(generated.values.sum, "")
  }

  private def checkLoad(r: Any): Fingerprint.Fp = {
    val (counts, orphanPo, orphanD) = r.asInstanceOf[(Map[String, Long], Long, Long)]
    require(orphanPo == 0 && orphanD == 0, s"orphan POs=$orphanPo orphan deliveries=$orphanD")
    require(counts == generated, s"loaded $counts != generated $generated")
    Fingerprint.Fp(counts.values.sum, "")
  }

  private def checkKpis(r: Any): Fingerprint.Fp = {
    val fp = Workloads.fingerprint(r)
    require(fp.rows == nSuppliers, s"kpis rows ${fp.rows} != $nSuppliers")
    fp
  }

  private def checkRisk(s: Long)(r: Any): Fingerprint.Fp = {
    val (schema, rows) = r.asInstanceOf[(StructType, Array[Row])]
    require(rows.length == nSuppliers, s"risk rows ${rows.length} != $nSuppliers")
    val i = schema.fieldIndex("risk_score")
    rows.foreach { row =>
      require(!row.isNullAt(i) && row.getDouble(i) >= 0.0 && row.getDouble(i) <= 1.0,
        s"risk_score out of [0, 1]: $row")
    }
    val fp = Fingerprint.of(schema, rows)
    riskBySeed.get(s).foreach(prev =>
      require(prev == fp.hash, s"seed $s gave risk fingerprint ${fp.hash}, earlier $prev"))
    riskBySeed(s) = fp.hash
    fp
  }

  // The decomposed forms repeat the bodies of Pipeline.generate/load/
  // kpis/risk call for call, with a span around each call.
  private def decGenerate(ctx: Ctx, s: Long): Unit = {
    val sup = ctx.span("gen.DataGen.suppliers")(DataGen.suppliers(spark, nSuppliers, s))
    val po = ctx.span("gen.DataGen.purchaseOrders")(DataGen.purchaseOrders(spark, nPos, nSuppliers, s))
    ctx.span("sources.SupplierCsv.write")(SupplierCsv.write(sup, s"$dir/csv/suppliers"))
    ctx.span("sources.SupplierCsv.write")(SupplierCsv.write(po, s"$dir/csv/purchase_orders"))
    val d = ctx.span("gen.DataGen.deliveries")(DataGen.deliveries(po, sup, s))
    ctx.span("sources.SupplierCsv.write")(SupplierCsv.write(d, s"$dir/csv/deliveries"))
  }

  private def whRead(ctx: Ctx, t: String) =
    ctx.span("sources.AtomicWarehouse.read")(AtomicWarehouse.read(spark, wh, t))

  private def decLoad(ctx: Ctx): (Map[String, Long], Long, Long) = {
    val tables = SupplierCsv.schemas.keys.map { t =>
      val df = ctx.span("sources.SupplierCsv.read")(SupplierCsv.read(spark, s"$dir/csv/$t", t))
      ctx.span("sources.AtomicWarehouse.overwrite")(AtomicWarehouse.overwrite(df, wh, t))
      t -> ctx.span("sources.AtomicWarehouse.read")(AtomicWarehouse.read(spark, wh, t).count())
    }.toMap
    val po = whRead(ctx, "purchase_orders")
    val d = whRead(ctx, "deliveries")
    (tables,
      ctx.span("operators.SupplierDomain.posWithoutDelivery")(SupplierDomain.posWithoutDelivery(po, d)),
      ctx.span("operators.SupplierDomain.deliveriesWithoutPo")(SupplierDomain.deliveriesWithoutPo(d, po)))
  }

  private def decKpis(ctx: Ctx): (StructType, Array[Row]) = {
    val k = ctx.span("operators.SupplierDomain.kpis")(SupplierDomain.kpis(
      whRead(ctx, "suppliers"), whRead(ctx, "purchase_orders"), whRead(ctx, "deliveries")))
    ctx.span("sources.AtomicWarehouse.overwrite")(AtomicWarehouse.overwrite(k, wh, "supplier_kpis"))
    ctx.span("sources.AtomicWarehouse.read")(Workloads.collected(AtomicWarehouse.read(spark, wh, "supplier_kpis")))
  }

  private def decRisk(ctx: Ctx): (StructType, Array[Row]) = {
    val r = ctx.span("operators.SupplierDomain.risk")(SupplierDomain.risk(whRead(ctx, "supplier_kpis")))
    ctx.span("sources.AtomicWarehouse.overwrite")(AtomicWarehouse.overwrite(r, wh, "supplier_risk_summary"))
    ctx.span("sources.AtomicWarehouse.read")(
      Workloads.collected(AtomicWarehouse.read(spark, wh, "supplier_risk_summary")))
  }

  private def bytesUnder(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  override def extras(): Json.Raw = {
    val versions = Option(new File(wh).listFiles).getOrElse(Array.empty[File]).toSeq
      .flatMap(t => Option(t.listFiles).getOrElse(Array.empty[File]))
      .count(v => v.isDirectory && v.getName.startsWith("v-"))
    Json.obj("csv_bytes" -> bytesUnder(s"$dir/csv"), "wh_bytes" -> bytesUnder(wh),
      "versions_on_disk" -> versions,
      "risk_fp_by_seed" -> Json.obj(riskBySeed.toSeq.map { case (k, v) => k.toString -> (v: Any) }: _*))
  }
}
