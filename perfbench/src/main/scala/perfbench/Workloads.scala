package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.lake._
import graft.operators.{Bpe, Dedup, Graph, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The workloads. Each is a closed loop with one client: the driver thread
  * issues every call after the previous one returns. The amount of work
  * is fixed by `--seconds` (see `rounds`), so two builds always do the
  * same work and a faster build simply finishes sooner.
  */
object Workloads {

  /** A few blobs of each class: the batch of a `--smoke` run. */
  val tiny: BatchShape = BatchShape.standard.copy(
    perClass = Map("inline" -> 4, "single" -> 4, "tree1" -> 2, "tree2" -> 1))

  private def shape(r: Run) = if (r.args.smoke) tiny else BatchShape.standard

  /** One round per 30 s of `--seconds`: a round and its maintenance pass
    * take about that long on a 4-core machine.
    */
  private def rounds(r: Run): Int = if (r.args.smoke) 1 else math.max(1, r.args.seconds / 30)

  /** Skewed pick: low indices (older blobs) are read far more often. */
  private def skewed[A](xs: IndexedSeq[A], rnd: SplittableRandom): A =
    xs(math.min(xs.size - 1, (xs.size * math.pow(rnd.nextDouble(), 3)).toInt))

  /** Every measured point read is of this (class, size) slot: the
    * one-level tree walk. One slot keeps every read in the same job mode,
    * so the median cannot flip between modes across seeds.
    */
  private val getSlot = ("tree1", 9000)

  /** A skewed pick among the blobs of one (class, size) slot. */
  private def slot(pool: Iterable[Blob], cls: String, size: Int, rnd: SplittableRandom): Option[Blob] = {
    val xs = pool.filter(b => b.cls == cls && b.len == size).toIndexedSeq
    if (xs.isEmpty) None else Some(skewed(xs, rnd))
  }

  private def pointGet(r: Run, lake: Lake, pool: Iterable[Blob], rnd: SplittableRandom): Unit = {
    val (cls, size) = getSlot
    val b = slot(pool, cls, size, rnd).getOrElse(skewed(pool.filter(_.cls == cls).toIndexedSeq, rnd))
    r.get(lake, b, sample = true)
  }

  /** A bulk read of one blob per (class, size) slot of the batch shape
    * from `pool`, so every bulk read returns the same bytes; skewed toward
    * older blobs.
    */
  private def bulkSet(pool: Iterable[Blob], rnd: SplittableRandom): Seq[Blob] =
    BatchShape.classes.flatMap(c => BatchShape.standard.sizes(c).flatMap(n => slot(pool, c, n, rnd)))

  /** The read-side warm-up on a store holding `b`: a re-put, one call of
    * each read op, and a delete whose blob must stop being readable.
    */
  private def warmReads(r: Run, lake: Lake, b: Seq[Blob]): Blob = {
    r.put(lake, b, "reput", sample = false)
    r.get(lake, b.find(_.cls == "tree2").get, sample = false)
    r.bulkGet(lake, BatchShape.classes.flatMap(c => b.filter(_.cls == c).distinct.take(4)), sample = false)
    val gone = b.find(_.cls == "tree1").get
    r.delete(lake, Seq(gone.hash), sample = false)
    r.getDeleted(lake, gone.hash)
    gone
  }

  /** Write-heavy: put batches into an uncapped single-store lake. Set-up
    * puts the first batch and warms every op but maintenance on it; the
    * maintenance pass at the end is the first in its JVM.
    */
  def ingest(r: Run): Unit = {
    val gen = new Gen(r.args.seed, shape(r))
    val pick = gen.fork()
    val live = mutable.LinkedHashMap.empty[String, Blob]
    var prev = gen.nextBatch()
    val lake = r.setupPhase("fixture") {
      val l = r.lake("ingest", Seq(StoreEntry("store")))
      r.put(l, prev, "put", sample = false)
      l
    }
    prev.foreach(b => live(b.hash) = b)
    live -= r.setupPhase("warmup")(warmReads(r, lake, prev)).hash
    val n = rounds(r)
    for (i <- 0 until n) {
      val batch = gen.nextBatch()
      r.put(lake, batch, "put", sample = true)
      batch.foreach(b => live(b.hash) = b)
      // a full re-put: every blob of the previous batch is already stored
      r.put(lake, prev.filter(b => live.contains(b.hash)), "reput", sample = true)
      prev = batch
      // the warm-up already probed a tombstone on this store
      if (i == n - 1) deleteSome(r, lake, live, pick, probe = false)
      pointGet(r, lake, live.values, pick)
      r.bulkGet(lake, bulkSet(live.values, pick), sample = true)
    }
    r.maintain(lake, sample = true)
    r.audit(lake, live.values)
    traceExtras(r, lake, live.values.toSeq)
  }

  /** Two stores: the fixture fills a hot store that is then capped at one
    * and a half batches at rest, so every measured put is refused by the
    * hot store's capacity gate and spills over to the uncapped cold store.
    * Point reads take blobs that spilled, so each one misses the hot store
    * and falls back to cold; bulk reads take every (class, size) slot from
    * each store, so both stores walk trees of the same depth in every run.
    * Reads pass a growing tombstone set, and maintenance covers both stores.
    */
  def lifecycle(r: Run): Unit = {
    val gen = new Gen(r.args.seed, shape(r))
    val pick = gen.fork()
    val live = mutable.LinkedHashMap.empty[String, Blob]
    val stores = Seq(StoreEntry("hot"), StoreEntry("cold"))
    val first = gen.nextBatch()
    val l0 = r.setupPhase("fixture") {
      val l = r.lake("lifecycle", stores)
      r.put(l, first, "put", sample = false)
      l
    }
    first.foreach(b => live(b.hash) = b)
    live -= r.setupPhase("warmup")(warmReads(r, l0, first)).hash
    val lake = r.setupPhase("fixture") {
      val atRest = l0.stores.head.currentBytes
      r.lake("lifecycle", Seq(stores.head.copy(maxBytes = atRest * 3 / 2), stores(1)))
    }
    val hot = first.map(_.hash).toSet
    val n = rounds(r)
    for (i <- 0 until n) {
      // re-puts draw only on live blobs: a put dedups against the whole
      // catalog, so re-putting a blob tombstoned since the last gc would
      // leave it tombstoned, which the live set here does not model
      val batch = gen.nextBatch(b => live.contains(b.hash))
      r.put(lake, batch, "put", sample = true)
      batch.foreach(b => live(b.hash) = b)
      // the fixture's blobs still live sit in the hot store: a pure dedup put
      r.put(lake, first.filter(b => live.contains(b.hash)), "reput", sample = true)
      // probed here too: the spilled blobs sit in the cold store
      deleteSome(r, lake, live, pick, probe = true)
      val (inHot, inCold) = live.values.partition(b => hot.contains(b.hash))
      pointGet(r, lake, inCold, pick)
      r.bulkGet(lake, bulkSet(inHot, pick) ++ bulkSet(inCold, pick), sample = true)
      if (i % 2 == 1 || i == n - 1) r.maintain(lake, sample = true)
    }
    r.audit(lake, live.values)
    traceExtras(r, lake, live.values.toSeq)
  }

  /** Tombstones ~10% of the live blobs; with `probe`, one of them must then
    * read as not found.
    */
  private def deleteSome(
      r: Run, lake: Lake, live: mutable.LinkedHashMap[String, Blob], rnd: SplittableRandom, probe: Boolean): Unit = {
    val keys = live.keys.toIndexedSeq
    val dead = Iterator.continually(keys(rnd.nextInt(keys.size))).distinct.take(math.max(1, keys.size / 10)).toSeq
    r.delete(lake, dead, sample = true)
    live --= dead
    if (probe) r.getDeleted(lake, dead.head)
  }

  // ---- traced-only passes -----------------------------------------------------

  private def traceExtras(r: Run, lake: Lake, live: Seq[Blob]): Unit = r.tracer.foreach { t =>
    kernels(r, live)
    val gc0 = gcMillis()
    operators(r, live)
    r.extra("operators.jvm_gc_s") = ((gcMillis() - gc0) / 1e3, "s")
    // tracing overhead: the same point read with the listeners attached and detached
    val probe = live.find(_.cls == "single").get
    val on = mutable.ArrayBuffer.empty[Double]
    val off = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until 3) {
      on += r.timed("overhead.get", None)(lake.getBlob(probe.hash))._2
      off += t.detached(r.timed("overhead.get", None)(lake.getBlob(probe.hash))._2)
    }
    r.extra("trace.overhead_s") = (median(on.toSeq) - median(off.toSeq), "s")
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum

  val operatorModules: Seq[String] = Seq("Dedup", "Bpe", "Graph", "VectorOps")

  /** The operator layer on inputs derived from the run's own blobs: one
    * call into each of four operator modules, under `operators.<Module>`.
    */
  private def operators(r: Run, blobs: Seq[Blob]): Unit = {
    val spark = r.spark
    import spark.implicits._
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val docs = blobs.filter(_.len >= 1024).zipWithIndex.map { case (b, i) => (i.toLong, b) }
    def words(b: Blob) = new String(b.data, "US-ASCII").split(' ').filter(_.nonEmpty)
    val shingles = docs.map { case (i, b) => (i, words(b).sliding(3).map(_.mkString(" ")).toSeq) }.toDF("doc_id", "sh")
    r.timed("operators.Dedup", None)(noop(Dedup.ngramJaccardPairs(shingles, 0.3)))
    val freq = docs.flatMap { case (_, b) => words(b) }.groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    r.timed("operators.Bpe", None)(noop(Bpe.bpeTrain(freq.toSeq.sortBy(_._1).toDF("word", "freq"), 8)))
    // blobs sharing a 256-B page are linked; a chain keeps every blob a node
    val byPage = docs.flatMap { case (i, b) => b.data.grouped(256).filter(_.length == 256).map(p => (java.util.Arrays.hashCode(p), i)) }
      .groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val links = (byPage.flatMap(ids => ids.zip(ids.tail)) ++ docs.map(_._1).zip(docs.map(_._1).tail)).toSeq.distinct
    val edges = (links ++ links.map(_.swap)).toDF("src", "dst")
    r.timed("operators.Graph", None) {
      noop(Graph.pageRank(edges, 5))
      noop(Graph.connectedComponents(edges.select($"src".as("u"), $"dst".as("v"))))
    }
    // 26-bin letter histograms as embeddings
    val vecs = docs.map { case (i, b) =>
      val h = new Array[Double](26)
      b.data.foreach(c => if (c >= 'a' && c <= 'z') h(c - 'a') += 1)
      (i, h.toSeq)
    }.toDF("id", "embedding")
    r.timed("operators.VectorOps", None)(noop(VectorOps.annBruteforce(vecs, vecs.limit(16), 5)))
  }

  /** Convergent and Codec kernels alone: noop-materialised column passes
    * over the run's own 256-B parts, replicated to 16 MB (64 MB for the
    * much faster concat).
    */
  private def kernels(r: Run, blobs: Seq[Blob]): Unit = {
    val spark = r.spark
    import spark.implicits._
    val chunked = blobs.filter(_.kind != "inline")
    val bytes = chunked.map(_.len.toLong).sum
    def copies(mb: Int) = {
      val n = math.max(1L, math.ceil(mb * 1e6 / bytes).toLong)
      (spark.range(n).toDF("rep"), n * bytes)
    }
    def cached(df: DataFrame): DataFrame = {
      val c = df.repartition(spark.sparkContext.defaultParallelism).cache()
      c.count()
      c
    }
    val (c16, b16) = copies(16)
    val (c64, b64) = copies(64)
    val parts = cached(chunked.flatMap(_.data.grouped(256)).toDF("p").crossJoin(c16).select("p"))
    val enc = cached(parts.select(
      Convergent.encryptDeflated(col("p")).as("ct"), Convergent.contentKey(col("p")).as("k")))
    val arrays = cached(chunked.map(_.data.grouped(256).toSeq).toDF("parts").crossJoin(c64).select("parts"))
    def rate(name: String, df: DataFrame, total: Long): Double = {
      val secs = (0 until 3).map(_ => r.timed(name, None)(df.write.format("noop").mode("overwrite").save())._2)
      total / 1e6 / median(secs)
    }
    r.extra("convergent.encrypt_mb_s") =
      (rate("kernel.encrypt", parts.select(Convergent.encryptDeflated(col("p"))), b16), "MB/s")
    r.extra("convergent.decrypt_mb_s") =
      (rate("kernel.decrypt", enc.select(Convergent.decryptDeflated(col("ct"), col("k"))), b16), "MB/s")
    r.extra("codec.concat_mb_s") = (rate("kernel.concat", arrays.select(Codec.concatBinary(col("parts"))), b64), "MB/s")
    Seq(parts, enc, arrays).foreach(_.unpersist())
  }
}
