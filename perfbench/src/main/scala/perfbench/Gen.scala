package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** One generated blob. `cls` is its ladder class as the generator built
  * it: inline (<= 64 B), single (<= 256 B), tree1 (one manifest level)
  * or tree2 (two manifest levels) under the default `LakeParams`.
  */
final case class Blob(data: Array[Byte], cls: String) {
  lazy val hash: String = Gen.sha256Hex(data)
  def len: Int = data.length
  def kind: String = if (cls.startsWith("tree")) "tree" else cls
}

/** Shape of one put batch. Counts and sizes are fixed, so a seed changes
  * content and never volume: every seed puts the same bytes per class.
  *
  * @param perClass blobs per class per batch
  * @param sizes    byte sizes cycled through within each class
  * @param repeatEvery every n-th blob of a class (after the first batch) is an
  *                 exact re-put of an earlier blob of that class
  * @param pagedEvery every n-th tree blob is built from earlier 256-B pages,
  *                 which dedups at chunk level but not at blob level
  */
final case class BatchShape(
    perClass: Map[String, Int],
    sizes: Map[String, Seq[Int]],
    repeatEvery: Int,
    pagedEvery: Int,
)

object BatchShape {
  val classes: Seq[String] = Seq("inline", "single", "tree1", "tree2")

  /** ~320 KiB of new content per batch across all four ladder classes. */
  val standard: BatchShape = BatchShape(
    perClass = Map("inline" -> 24, "single" -> 24, "tree1" -> 16, "tree2" -> 6),
    sizes = Map(
      "inline" -> Seq(17, 32, 48, 64),
      "single" -> Seq(65, 128, 200, 256),
      "tree1" -> Seq(1024, 4000, 9000, 16384),
      "tree2" -> Seq(20000, 32768, 45000),
    ),
    repeatEvery = 4,
    pagedEvery = 3,
  )
}

/** Seeded blob generator. Content is text-like (words from a seeded
  * vocabulary), so deflate-then-encrypt takes the `gcm` branch as real
  * documents would; page reuse between tree blobs gives chunk-level
  * dedup. The program under test only ever receives the bytes.
  */
final class Gen(seed: Long, val shape: BatchShape) {
  private val rnd = new SplittableRandom(seed)
  private val vocab: Array[Array[Byte]] = Array.fill(2048) {
    val n = 2 + rnd.nextInt(9)
    Array.fill(n)(('a' + rnd.nextInt(26)).toByte)
  }
  private val byClass = BatchShape.classes.map(_ -> ArrayBuffer.empty[Blob]).toMap
  private val pages = ArrayBuffer.empty[Array[Byte]]
  private var batches = 0
  private val seen = scala.collection.mutable.HashSet.empty[String]

  private def text(n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var off = 0
    while (off < n) {
      // Zipf-ish word choice keeps the text compressible
      val w = vocab((rnd.nextDouble() * rnd.nextDouble() * vocab.length).toInt)
      val k = math.min(w.length, n - off)
      System.arraycopy(w, 0, out, off, k)
      off += k
      if (off < n) { out(off) = ' '; off += 1 }
    }
    out
  }

  private def paged(n: Int): Array[Byte] = {
    val out = text(n)
    // overwrite every other aligned 256-B page with an earlier one
    var p = 0
    while ((p + 1) * 256 <= n) {
      if (p % 2 == 0 && pages.nonEmpty) System.arraycopy(pages(rnd.nextInt(pages.size)), 0, out, p * 256, 256)
      p += 1
    }
    out
  }

  private def remember(b: Blob): Unit =
    if (seen.add(b.hash)) {
      byClass(b.cls) += b
      if (b.cls.startsWith("tree") && pages.size < 4096) {
        var p = 0
        while ((p + 1) * 256 <= b.len) { pages += java.util.Arrays.copyOfRange(b.data, p * 256, (p + 1) * 256); p += 2 }
      }
    }

  /** The next batch: fixed counts and sizes per class, with a fixed share
    * of exact re-puts and of page-built blobs once earlier content exists.
    * Re-puts draw from `reusable` blobs of earlier batches of the same
    * size, so every class keeps the same logical byte count in every batch.
    */
  def nextBatch(reusable: Blob => Boolean = _ => true): Seq[Blob] = {
    val first = batches == 0
    batches += 1
    val out = BatchShape.classes.flatMap { cls =>
      val sizes = shape.sizes(cls)
      val earlier = byClass(cls).toIndexedSeq
      (0 until shape.perClass(cls)).map { i =>
        val n = sizes(i % sizes.size)
        val sameSize = earlier.filter(b => b.len == n && reusable(b))
        if (!first && i % shape.repeatEvery == shape.repeatEvery - 1 && sameSize.nonEmpty)
          sameSize(rnd.nextInt(sameSize.size))
        else if (!first && cls.startsWith("tree") && i % shape.pagedEvery == 0) Blob(paged(n), cls)
        else Blob(text(n), cls)
      }
    }
    out.foreach(remember)
    out
  }

  /** A seeded random stream for op choices that does not disturb content. */
  def fork(): SplittableRandom = rnd.split()
}

object Gen {
  def sha256Hex(b: Array[Byte]): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(b)
    val sb = new StringBuilder(64)
    d.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }
}
