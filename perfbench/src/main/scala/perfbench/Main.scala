package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.lake._
import org.apache.spark.sql.SparkSession

/** Store-lifecycle benchmark over graft's public API.
  *
  * Usage: perfbench.Main --workload <ingest|lifecycle> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> [--out <dir>] [--smoke]
  *
  * The last stdout line is one JSON object: correct, attempted, failed and
  * metrics (end-to-end metrics untraced, per-layer metrics traced).
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, out: Option[String], smoke: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt, need("--trace") == "1", need("--work"),
      kv.get("--out"), argv.contains("--smoke"))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def run(a: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.build(s"local[$cores]", cores)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = if (a.trace) Some(new Tracer(spark, s"${a.workload}-${a.seed}")) else None
    val r = new Run(spark, a, tracer)
    r.setupS("session") = sessionS
    try {
      a.workload match {
        case "ingest" => Workloads.ingest(r)
        case "lifecycle" => Workloads.lifecycle(r)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val metrics = if (a.trace) r.layerMetrics() else r.endToEndMetrics()
      metrics.foreach { case (n, (v, u)) => println(f"metric $n%-28s $v%.6g $u") }
      r.failures.foreach(f => println(s"FAILED: $f"))
      val body = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$body}}""")
      if (r.failed == 0) 0 else 1
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).stripTrailingZeros().toPlainString
}

/** State of one benchmark run: samples, checks and the optional tracer. */
final class Run(val spark: SparkSession, val args: Main.Args, val tracer: Option[Tracer]) {
  import spark.implicits._

  val work: String = args.work
  var attempted = 0L
  var failed = 0L
  val failures: ArrayBuffer[String] = ArrayBuffer.empty
  val samples: mutable.Map[String, ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val setupS: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  /** Traced-only figures a workload adds (kernel rates, overhead). */
  val extra: mutable.Map[String, (Double, String)] = mutable.LinkedHashMap.empty
  private var putBytes = 0L
  private var putSeconds = 0.0
  private var bulkBytes = 0L
  private var bulkSeconds = 0.0
  private var getBytes = 0L
  private var bytesPerUserByte = Double.NaN
  private val filesPerBucket = ArrayBuffer.empty[Double]
  private var chunksWritten = 0L
  private var partsEncrypted = 0L

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      val w = what
      failures += w
      System.err.println(s"CHECK FAILED: $w")
    }
  }

  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Times `body` under a span; `sample` names the series it lands in. */
  def timed[A](name: String, sample: Option[String])(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val res = span(name)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    sample.foreach { s =>
      samples.getOrElseUpdate(s, ArrayBuffer.empty) += dt
      System.err.println(f"perfbench: sample $s $dt%.3f s")
    }
    (res, dt)
  }

  def setupPhase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val res = span(s"setup.$name")(body)
    val dt = (System.nanoTime() - t0) / 1e9
    setupS(name) = setupS.getOrElse(name, 0.0) + dt
    System.err.println(f"perfbench: setup $name $dt%.3f s")
    res
  }

  // ---- checked operations -------------------------------------------------

  /** Puts `batch`; the PutResult must list exactly its distinct blobs. */
  def put(lake: Lake, batch: Seq[Blob], op: String, sample: Boolean): Unit = {
    val before = if (tracer.isDefined && op == "put" && sample) Some(storeRows(lake)) else None
    val (res, dt) = timed(op, if (sample) Some(op) else None) {
      lake.put(batch.map(_.data).toDF("data"))
    }
    val want = batch.map(b => (b.hash, b.len.toLong, b.kind)).toSet
    val got = res.blobs.map(r => (r.blobHash, r.totalLen, r.kind)).toSet
    check(got == want, s"$op: PutResult lists ${got.size} blobs, expected ${want.size}")
    if (sample && op == "put") {
      putBytes += batch.map(_.len.toLong).sum
      putSeconds += dt
    }
    before.foreach { case (c0, m0) =>
      val (c1, m1) = storeRows(lake)
      chunksWritten += c1 - c0
      partsEncrypted += m1 - m0
    }
  }

  private def storeRows(lake: Lake): (Long, Long) =
    (lake.stores.map(_.chunks.count()).sum, lake.stores.map(_.manifest.count()).sum)

  /** Point read; must return the generator's bytes exactly. */
  def get(lake: Lake, b: Blob, sample: Boolean): Unit = {
    val (data, _) = timed("get", if (sample) Some("get") else None)(lake.getBlob(b.hash))
    check(java.util.Arrays.equals(data, b.data), s"get ${b.cls} ${b.hash.take(12)}: bytes differ")
    if (sample) getBytes += b.len
  }

  /** A deleted blob must not be readable. */
  def getDeleted(lake: Lake, hash: String): Unit = {
    val ok =
      try { lake.getBlob(hash); false }
      catch { case _: BlobNotFoundException => true }
    check(ok, s"tombstoned blob ${hash.take(12)} is still readable")
  }

  /** Bulk read of live blobs: exactly the requested set, all verified, bytes equal. */
  def bulkGet(lake: Lake, live: Seq[Blob], sample: Boolean): Unit = {
    val want = live.map(_.hash).distinct
    val (rows, dt) = timed("bulk_get", if (sample) Some("bulk_get") else None) {
      lake.get(want.toDF("blob_hash")).select("blob_hash", "data", "verified").collect()
    }
    val byHash = live.map(b => b.hash -> b).toMap
    val got = rows.map(_.getString(0)).toSet
    check(got == byHash.keySet, s"bulk get returned ${got.size} blobs, expected ${want.size}")
    check(rows.forall(_.getBoolean(2)), "bulk get: a blob failed verify-on-read")
    check(
      rows.forall(r => byHash.get(r.getString(0)).exists(b => java.util.Arrays.equals(b.data, r.getAs[Array[Byte]](1)))),
      "bulk get: bytes differ")
    if (sample) {
      bulkBytes += rows.map(_.getAs[Array[Byte]](1).length.toLong).sum
      bulkSeconds += dt
    }
  }

  def delete(lake: Lake, hashes: Seq[String], sample: Boolean): Unit = {
    val (n, _) = timed("delete", if (sample) Some("delete") else None)(lake.delete(hashes))
    check(n >= hashes.size, s"delete tombstoned $n blobs, expected at least ${hashes.size}")
  }

  /** maintenanceReport -> gc -> compact -> fsck -> scrub; fsck and scrub
    * must report zero violations afterwards.
    */
  def maintain(lake: Lake, sample: Boolean): Unit = {
    val t0 = System.nanoTime()
    span("maint") {
      val report = timed("maint_report", None)(lake.maintenanceReport().collect())._1
      if (sample) filesPerBucket += report.map(_.getAs[Long]("files_per_bucket_milli") / 1000.0).sum / report.length
      timed("gc", None)(lake.gc().collect())
      timed("compact", None)(lake.compact().collect())
      val fsck = timed("fsck", None)(lake.writable.flatMap(_.fsck().collect()))._1
      fsck.foreach(r => check(r.getAs[Long]("violations") == 0, s"fsck ${r.getAs[String]("check")} = ${r.getAs[Long]("violations")}"))
      val scrub = timed("scrub", None)(lake.scrub().collect())._1
      scrub.filter(_.getAs[String]("check") != "scanned_chunks")
        .foreach(r => check(r.getAs[Long]("violations") == 0, s"scrub ${r.getAs[String]("check")} = ${r.getAs[Long]("violations")}"))
    }
    if (sample) samples.getOrElseUpdate("maint", ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
  }

  /** End-of-run audit: the live catalog across stores is exactly `live`;
    * records the at-rest footprint per live logical byte.
    */
  def audit(lake: Lake, live: Iterable[Blob]): Unit = {
    val cat = lake.stores.map(_.liveCatalog.select("blob_hash")).reduce(_ union _).distinct().as[String].collect().toSet
    val want = live.map(_.hash).toSet
    check(cat == want, s"catalog holds ${cat.size} live blobs, expected ${want.size}")
    val onDisk = lake.stores.map(s => dirBytes(Paths.get(s.path))).sum
    bytesPerUserByte = onDisk.toDouble / live.map(_.len.toLong).sum
  }

  private def dirBytes(p: Path): Long = {
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

  def lake(name: String, stores: Seq[StoreEntry]): Lake =
    Lake.init(spark, LakeConfig(stores.map(s => s.copy(path = s"$work/$name/${s.path}"))))

  // ---- metrics --------------------------------------------------------------

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def p50(op: String): Double = median(samples.getOrElse(op, Nil).toSeq)

  def endToEndMetrics(): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (setupS.values.sum, "s"),
    "put_mb_s" -> (putBytes / 1e6 / putSeconds, "MB/s"),
    "put_p50_s" -> (p50("put"), "s"),
    "reput_p50_s" -> (p50("reput"), "s"),
    "get_p50_s" -> (p50("get"), "s"),
    "bulk_get_mb_s" -> (bulkBytes / 1e6 / bulkSeconds, "MB/s"),
    "maint_s" -> (p50("maint"), "s"),
    "bytes_per_user_byte" -> (bytesPerUserByte, "ratio"),
  )

  val lakeOps: Seq[String] =
    Seq("put", "reput", "get", "bulk_get", "delete", "maint_report", "gc", "compact", "fsck", "scrub")

  def layerMetrics(): Seq[(String, (Double, String))] = {
    val t = tracer.get
    t.finish()
    args.out.foreach { d =>
      Files.createDirectories(Paths.get(d))
      t.dump(Paths.get(d, s"trace-${args.workload}-${args.seed}.jsonl"))
    }
    // measured calls only: warm-up and fixture calls sit under setup spans
    val warm = t.all.filter(_.name.startsWith("setup."))
    val calls = t.all.filter(s => lakeOps.contains(s.name) && !warm.exists(w => s.start >= w.start && s.end <= w.end))
    val byOp = calls.groupBy(_.name).map { case (k, v) => k -> v.map(t.counters) }
    def med(op: String)(f: Counters => Double): Double = median(byOp.getOrElse(op, Nil).map(f))
    def sum(op: String)(f: Counters => Double): Double = byOp.getOrElse(op, Nil).map(f).sum
    val perOp = lakeOps.flatMap { op =>
      Seq(
        s"$op.wall_s" -> (med(op)(_.wallS), "s"),
        s"$op.jobs" -> (med(op)(_.jobs.toDouble), "count"),
        s"$op.plan_s" -> (med(op)(_.planS), "s"),
        s"$op.driver_s" -> (med(op)(_.driverS), "s"),
        s"$op.cpu_s" -> (med(op)(_.cpuS), "s"),
        s"$op.shuffle_bytes" -> (med(op)(_.shuffleBytes.toDouble), "bytes"),
        s"$op.io_bytes" -> (med(op)(_.ioBytes.toDouble), "bytes"),
      )
    }
    val opSpans = t.all.filter(_.name.startsWith("operators.")).map(s => s.name -> t.counters(s))
    val operators = Workloads.operatorModules.flatMap { m =>
      val cs = opSpans.filter(_._1 == s"operators.$m").map(_._2)
      Seq(
        s"operators.$m.wall_s" -> (cs.map(_.wallS).sum, "s"),
        s"operators.$m.jobs" -> (cs.map(_.jobs).sum.toDouble, "count"),
        s"operators.$m.shuffle_bytes" -> (cs.map(_.shuffleBytes).sum.toDouble, "bytes"),
      )
    } :+ ("operators.spill_bytes" -> (opSpans.map(_._2.spillBytes).sum.toDouble, "bytes"))
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    perOp ++ Seq(
      "put.new_chunk_ratio" -> (chunksWritten.toDouble / partsEncrypted, "ratio"),
      "get.read_amp" -> (sum("get")(_.readBytes.toDouble) / getBytes, "ratio"),
      "bulk_get.read_amp" -> (sum("bulk_get")(_.readBytes.toDouble) / bulkBytes, "ratio"),
      "store.files_per_bucket" -> (median(filesPerBucket.toSeq), "count"),
    ) ++ operators ++ extra.toSeq ++ Seq(
      "setup.session_s" -> (setupS.getOrElse("session", 0.0), "s"),
      "setup.warmup_s" -> (setupS.getOrElse("warmup", 0.0), "s"),
      "setup.fixture_s" -> (setupS.getOrElse("fixture", 0.0), "s"),
      "lake.jvm_gc_s" -> (byOp.values.flatten.map(_.gcS).sum, "s"),
      "jvm.peak_heap_mb" -> (heapPeak / 1e6, "MB"),
      "spark.failed_tasks" -> (t.failedTasks.toDouble, "count"),
    )
  }
}
