package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

/** Zipf(s) over 0 until n by inverse CDF: rank 0 is the hottest. */
final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

object Gen {
  /** Writes `body` next to `dest` and renames it into place, so a
    * watcher never sees a half-written input; `mtimeMs` pins the
    * delivery version the engine reads from the file. */
  def land(stage: File, dest: File, body: String, mtimeMs: Long): Unit = {
    stage.mkdirs()
    val tmp = new File(stage, dest.getName)
    Files.write(tmp.toPath, body.getBytes(StandardCharsets.ISO_8859_1))
    tmp.setLastModified(mtimeMs)
    Files.move(tmp.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }
}
