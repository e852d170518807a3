package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The paper's own pipeline over generated detector events: ingest the
  * raw spacepoint and voxel tables through `SinkOps.sortedWrite`, read
  * them back through `format("root")` with product selection, serve
  * keyed/index lookups, samples and slices through `api.EventReader`, and
  * build voxel and instance tables through `etl.EventPipelines`.
  */
final class TensorEvents(spark: SparkSession, run: Runner, in: String, work: String)
    extends Workload {
  private val plan = new ObjectMapper().readTree(new File(s"$in/plan.json"))
  private val byKey = (0 until plan.get("by_key").size).map { i =>
    val k = plan.get("by_key").get(i); (k.get(0).asLong, k.get(1).asLong, k.get(2).asLong)
  }
  private val byIndex = (0 until plan.get("by_index").size).map(plan.get("by_index").get(_).asLong)
  private val nSlices = plan.get("slices").asInt
  private val sampleSeed = plan.get("sample_seed").asLong
  private val nEvents = plan.get("n_events").asLong
  private val payloadBytes = plan.get("payload_bytes").asDouble
  /** Row groups small enough that a keyed read prunes to a few events. */
  private val rowGroupBytes = 128L * 1024
  private val spProducts = "run,subrun,event,spacepoint_t,spacepoint_t_shape,truetriplet_t,segment_t,instance_t"
  private val vxProducts = "run,subrun,event,voxcoord,voxcoord_shape,voxlabel,voxssnet,voxinstance"

  // results of the latest pass, checked after the run
  private var keyRows = Seq.empty[Option[Row]]
  private var indexRows = Seq.empty[Option[Row]]
  private var sampleRows = Seq.empty[Row]
  private var sliceRows = Seq.empty[(Int, Row)]
  private var storeSchema: StructType = _
  private val tables = mutable.Map.empty[String, (StructType, Seq[Row])]
  // per pass: (bytes written, files) of the store
  private val storeStats = mutable.ArrayBuffer.empty[(Long, Long)]

  private def files(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  def pass(k: Int): Unit = {
    val store = s"$work/store/pass-$k"
    Seq("spacepoints", "voxels").foreach { t =>
      run.call("etl.SinkOps.sortedWrite") {
        graft.etl.SinkOps.sortedWrite(spark.read.parquet(s"$in/$t"), "event",
          s"$store/$t", rowGroupBytes)
      }
    }
    val fs = Seq("spacepoints", "voxels").flatMap(t => files(s"$store/$t"))
    storeStats += ((fs.map(_.length).sum, fs.size.toLong))

    def root(t: String, products: String) =
      spark.read.format("root").option("products", products).load(s"$store/$t")
    run.call("sources.RootSource.load") {
      root("spacepoints", spProducts).write.format("noop").mode("overwrite").save()
    }

    val reader = new graft.api.EventReader(spark, s"$store/spacepoints")
    keyRows = byKey.map { case (r, s, e) =>
      run.call("api.EventReader.byKey")(reader.getEntry(r, s, e)).flatten
    }
    indexRows = byIndex.map(i => run.call("api.EventReader.byIndex")(reader.getEntry(i)).flatten)
    sampleRows = (0 until 3).flatMap(i =>
      run.call("api.EventReader.sample")(reader.sampleEntry(sampleSeed + i)))
    sliceRows = (0 until nSlices).flatMap { w =>
      run.call("api.EventReader.slice")(reader.partitionSlice(w, nSlices).collect().toSeq)
        .getOrElse(Nil).map(r => (w, r))
    }
    storeSchema = reader.df.schema
    reader.unpersistIndex()

    def collect(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      run.call(s"etl.EventPipelines.$name") { val d = df; (d.schema, d.collect().toSeq) }
        .foreach(tables(name) = _)
    collect("voxelize")(graft.etl.EventPipelines.voxelize(spark, root("spacepoints", spProducts), 1.0))
    collect("instanceTable")(graft.etl.EventPipelines.instanceTable(spark, root("voxels", vxProducts)))
    collect("instanceTableCC")(graft.etl.EventPipelines.instanceTableCC(spark, root("voxels", vxProducts)))
  }

  private val instanceCalls = Seq("voxelize", "instanceTable", "instanceTableCC")
    .map(n => s"etl.EventPipelines.$n")

  def itemsPerS(spans: Seq[Span], passWalls: Seq[Double]): Double = Main.median(
    spans.filter(s => instanceCalls.contains(s.name)).groupBy(_.pass).values
      .map(ss => nEvents / (ss.map(_.wallNs).sum / 1e9)).toSeq)

  /** Steady-state point reads: each pass's first 10 keyed and first 5
    * index lookups (JIT warm-up of the lookup path, and the index build)
    * are left out, leaving 100 per pass.
    */
  def callMs(spans: Seq[Span]): Seq[Double] = spans.groupBy(_.pass).values.flatMap { ss =>
    def steady(name: String, skip: Int) = ss.filter(_.name == name).sortBy(_.startMs).drop(skip)
    steady("api.EventReader.byKey", 10) ++ steady("api.EventReader.byIndex", 5)
  }.map(_.wallNs / 1e6).toSeq

  def writeOutputs(dir: String): Unit = {
    if (storeSchema == null) return
    val seqSchema = StructType(StructField("__seq", IntegerType) +: storeSchema.fields)
    def indexed(rows: Seq[Option[Row]]) = rows.zipWithIndex.collect {
      case (Some(r), i) => Row.fromSeq(i +: r.toSeq)
    }
    Out.save(spark, seqSchema, indexed(keyRows), s"$dir/by_key")
    Out.save(spark, seqSchema, indexed(indexRows), s"$dir/by_index")
    Out.save(spark, seqSchema, sampleRows.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r.toSeq) },
      s"$dir/sample")
    Out.save(spark, seqSchema, sliceRows.map { case (w, r) => Row.fromSeq(w +: r.toSeq) }, s"$dir/slices")
    tables.foreach { case (n, (schema, rows)) => Out.save(spark, schema, rows, s"$dir/$n") }
  }

  override def layerExtras(byName: Map[String, Seq[(Span, Counts)]], passes: Int): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val last = storeStats.takeRight(passes)
    val written = last.map(_._1).sum.toDouble / passes
    out("etl.SinkOps.sortedWrite.bytes_written") = written
    out("etl.SinkOps.sortedWrite.files") = last.map(_._2).sum.toDouble / passes
    out("etl.SinkOps.sortedWrite.stored_bytes_ratio") = written / payloadBytes
    val ingestS = byName.getOrElse("etl.SinkOps.sortedWrite", Nil).map(_._1.wallNs / 1e9).sum
    if (ingestS > 0) out("etl.SinkOps.sortedWrite.mb_per_s") =
      payloadBytes * passes / 1e6 / ingestS
    val lookups = callMs(byName.values.flatten.map(_._1).toSeq)
    out("api.EventReader.lookup.p90_ms") = Main.pct(lookups, 0.9)
    Seq("byKey", "byIndex", "sample", "slice").foreach { c =>
      val n = s"api.EventReader.$c"
      val calls = byName.getOrElse(n, Nil)
      if (calls.nonEmpty) {
        out(s"$n.p50_ms") = Main.pct(calls.map(_._1.wallNs / 1e6), 0.5)
        out(s"$n.jobs_per_call") = calls.map(_._2.jobs).sum.toDouble / calls.size
        val returned = if (c == "slice") sliceRows.size.toDouble * passes else calls.size.toDouble
        out(s"$n.rows_scanned_per_row_returned") = calls.map(_._2.scanRows).sum / returned
      }
    }
    out.toMap
  }
}

/** LLM-data curation over a generated corpus: MinHash and SimHash LSH
  * candidate generation, dedup clusters and the cleaning pipeline,
  * through the engine's named queries.
  */
final class CorpusClean(spark: SparkSession, run: Runner, in: String) extends Workload {
  val queries: Seq[(String, String)] = Seq(
    "quality.DedupOps" -> "dd2_minhash_lsh",
    "quality.DedupOps" -> "dd3b_simhash_lsh",
    "quality.DedupOps" -> "dd6_dedup_clusters",
    "quality.CorpusPipeline" -> "pipe1_clean_corpus")
  private val nDocs = new ObjectMapper().readTree(new File(s"$in/plan.json")).get("n_docs").asLong
  private val results = mutable.Map.empty[String, (StructType, Seq[Row])]

  def pass(k: Int): Unit = Named.runAll(spark, run, in, queries, results)
  def itemsPerS(spans: Seq[Span], passWalls: Seq[Double]): Double =
    Main.median(passWalls.map(nDocs / _))
  def callMs(spans: Seq[Span]): Seq[Double] = spans.map(_.wallNs / 1e6)
  def writeOutputs(dir: String): Unit = Named.write(spark, results, dir)

  override def layerExtras(byName: Map[String, Seq[(Span, Counts)]], passes: Int): Map[String, Double] =
    Seq("dd2_minhash_lsh", "dd3b_simhash_lsh", "dd6_dedup_clusters").flatMap { q =>
      val n = s"quality.DedupOps.$q"
      val calls = byName.getOrElse(n, Nil)
      val rows = calls.map(_._2.plan("tensor.pair_explode.generate_rows")).sum / passes
      val kept = results.get(q).map(_._2.size.toDouble).getOrElse(0.0)
      Seq(s"$n.pair_explode_rows" -> rows) ++
        (if (q != "dd6_dedup_clusters" && kept > 0) Seq(s"$n.candidates_per_kept_pair" -> rows / kept)
         else Nil)
    }.toMap
}

/** The analyst control: TPC-H-shaped queries of `ops.TpchOps` on fixed
  * sf0.1 tables, in a seed-permuted order after a fixed opener.
  */
final class OlapMix(spark: SparkSession, run: Runner, in: String, seed: Long) extends Workload {
  val queries: Seq[(String, String)] =
    (OlapMix.opener +: new scala.util.Random(seed).shuffle(OlapMix.names)).map("ops.TpchOps" -> _)
  private val results = mutable.Map.empty[String, (StructType, Seq[Row])]

  def pass(k: Int): Unit = Named.runAll(spark, run, in, queries, results)
  def itemsPerS(spans: Seq[Span], passWalls: Seq[Double]): Double =
    Main.median(passWalls.map(queries.size / _))
  /** The permuted queries only: the opener's latency is warm-up. */
  def callMs(spans: Seq[Span]): Seq[Double] =
    spans.filter(_.name != s"ops.TpchOps.${OlapMix.opener}").map(_.wallNs / 1e6)
  def writeOutputs(dir: String): Unit = Named.write(spark, results, dir)
}

object OlapMix {
  /** With [[opener]], eleven of the 22 TPC-H shapes, covering
    * scan-aggregate, top-k join, multi-way join, outer join, correlated and
    * IN/EXISTS subqueries and argmin: the set one cold pass of which fits
    * the run budget.
    */
  val names: Seq[String] = Seq("tpch_q1", "tpch_q2_shape", "tpch_q3", "tpch_q5",
    "tpch_q9_shape", "tpch_q10_shape", "tpch_q13", "tpch_q17", "tpch_q18", "tpch_q21_shape")
  /** Always first: the pass's first query pays one-time costs (reader and
    * codegen set-up) that would otherwise land on whichever query the
    * seed put first.
    */
  val opener = "tpch_q6"
}

/** Running `SparkEntry` named queries and saving their results with the
  * DuckDB oracle SQL that checks them.
  */
object Named {
  def runAll(spark: SparkSession, run: Runner, dir: String, queries: Seq[(String, String)],
      results: mutable.Map[String, (StructType, Seq[Row])]): Unit =
    queries.foreach { case (module, q) =>
      val fn = graft.SparkEntry.queries(q)
      run.call(s"$module.$q") { val df = fn(spark, dir); (df.schema, df.collect().toSeq) }
        .foreach(results(q) = _)
    }

  def write(spark: SparkSession, results: mutable.Map[String, (StructType, Seq[Row])],
      dir: String): Unit = {
    results.foreach { case (q, (schema, rows)) => Out.save(spark, schema, rows, s"$dir/$q") }
    val oracle = graft.SparkEntry.oracleSql.filter { case (q, _) => results.contains(q) }
    new File(dir).mkdirs()
    val out = new java.io.PrintWriter(s"$dir/oracle_sql.json", "UTF-8")
    try out.print(Json.render(oracle)) finally out.close()
  }
}

/** Per-layer metrics from attributed spans: per pass, for every call
  * name, its wall, driver-only time and Spark work counters, plus the
  * plan-operator counters summed over the whole pass.
  */
object Layers {
  def apply(attributed: Seq[(Span, Counts)], passes: Int, w: Workload): Map[String, Double] = {
    val byName = attributed.groupBy(_._1.name)
    val out = mutable.Map.empty[String, Double]
    byName.foreach { case (n, calls) =>
      def per(f: ((Span, Counts)) => Double) = calls.map(f).sum / passes
      out(s"$n.wall_s") = per(_._1.wallNs / 1e9)
      out(s"$n.driver_s") = per(c => math.max(0.0, c._1.wallNs / 1e9 - c._2.jobBusyMs / 1e3))
      out(s"$n.jobs") = per(_._2.jobs.toDouble)
      out(s"$n.tasks") = per(_._2.tasks.toDouble)
      out(s"$n.exec_s") = per(_._2.execMs / 1e3)
      out(s"$n.shuffle_write_bytes") = per(_._2.shuffleWrite.toDouble)
      out(s"$n.spill_bytes") = per(_._2.spill.toDouble)
      out(s"$n.scan_rows") = per(_._2.scanRows.toDouble)
    }
    attributed.flatMap(_._2.plan.toSeq).groupBy(_._1).foreach { case (k, vs) =>
      out(k) = vs.map(_._2).sum / passes
    }
    out ++= w.layerExtras(byName, passes)
    out.toMap
  }
}
