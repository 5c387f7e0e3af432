package graft.perfbench

import graft.functions.{VectorFunctions => VF}
import graft.operators.{AnnSearch, Dedup}
import graft.sources.LayoutManifest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.{col, typedLit}

object Size extends Enumeration {
  val Smoke, Full = Value
}

final class Ctx(val spark: SparkSession, val seed: Long, val size: Size.Value)

/** The workload's own rows the kernel timings evaluate over: `vectors()`
  * yields `embedding ARRAY<FLOAT>`, `text()` yields `text STRING`.
  */
final case class KernelInput(vectors: () => DataFrame, text: () => DataFrame,
    planes: Seq[Seq[Double]], q: Array[Float])

trait Workload {
  /** Generate inputs and write everything the calls read. */
  def setup(dir: String): Unit
  /** One closed-loop cycle of calls. */
  def cycle(r: Runner): Unit
  /** Untimed layer probes, run after each traced cycle. */
  def probes(r: Runner): Unit
  /** Seconds of `--seconds` that buy one window cycle. A run of `seconds`
    * makes ceil(seconds / cycleSeconds) window cycles (at least two, four
    * when traced) after as many untimed ones (at least two). The
    * counts do not depend on how fast the engine runs, so both sides of a
    * comparison make the same calls, on stores in the same states.
    */
  def cycleSeconds: Double
  /** Calls made once after the measured window. */
  def finish(r: Runner): Unit = ()
  def kernelInput: KernelInput
  /** Workload-specific metrics for the result file. */
  def detail(r: Runner): Map[String, Any]
}

/** Seeded input generators. */
object Gen {
  val Jitter = 0.05

  private def gauss(rnd: java.util.Random, dim: Int): Array[Double] =
    Array.fill(dim)(rnd.nextGaussian())

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def bases(rnd: java.util.Random, nBase: Int, dim: Int): Array[Array[Float]] =
    Array.fill(nBase)(unit(gauss(rnd, dim)))

  /** A unit vector near `v` (per-dimension Gaussian jitter). */
  def near(rnd: java.util.Random, v: Array[Float]): Array[Float] =
    unit(v.map(_.toDouble + Jitter * rnd.nextGaussian()))

  /** `nBase` random directions, each replicated `reps` times with jitter:
    * the clustered shape of a replicated embedding table.
    */
  def vectors(rnd: java.util.Random, nBase: Int, reps: Int, dim: Int): Array[Array[Float]] = {
    val b = bases(rnd, nBase, dim)
    Array.tabulate(nBase * reps)(i => near(rnd, b(i / reps)))
  }

  def shuffle[T](rnd: java.util.Random, xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** Layer probes shared by the workloads. */
object Layers {
  private def fs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  /** Every regular file under `path` with its size, recursively. */
  def listing(spark: SparkSession, path: String): Map[String, Long] = {
    val it = fs(spark, path).listFiles(new Path(path), true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val s = it.next(); b += s.getPath.toString -> s.getLen }
    b.result()
  }

  /** Store size and space amplification (bytes under the layout directory
    * over bytes of the live data files the manifest lists).
    */
  def storeNotes(r: Runner, spark: SparkSession, path: String,
      m: LayoutManifest.Manifest): Unit = {
    val f = fs(spark, path)
    val all = listing(spark, path).values.sum
    val live = m.files.map(e => f.getFileStatus(new Path(path, e.name)).getLen).sum
    r.note("sources.store_mb", all / 1e6)
    r.note("sources.space_amp", all.toDouble / live)
  }

  /** Layer notes every workload records; the rest are workload detail. */
  val SharedNotes: Set[String] = Set("sources.manifest_read_ms", "sources.live_files",
    "sources.scan_file_frac", "sources.store_mb", "sources.space_amp")

  /** ns per row of each kernel's public Column builder, compiled the way
    * whole-stage codegen compiles it (an `UnsafeProjection`) and evaluated
    * on the driver over the workload's own rows in a tight loop: no job,
    * scheduling or scan cost, so the figure is the kernel's alone. Median
    * of five timed blocks after a warm-up block.
    */
  def kernels(r: Runner, ki: KernelInput): Unit = {
    def time(name: String, in: DataFrame, c: Column): Unit = {
      val rows = in.queryExecution.toRdd.map(_.copy()).collect()
      val project = in.select(c).queryExecution.analyzed.asInstanceOf[Project]
      val bound = BindReferences.bindReference(project.projectList.head, project.child.output)
      val proj = UnsafeProjection.create(Seq(bound))
      def block(): Double = {
        val t0 = System.nanoTime
        var i = 0
        while (i < rows.length) { proj(rows(i)); i += 1 }
        (System.nanoTime - t0).toDouble / rows.length
      }
      (1 to 3).foreach(_ => block())
      r.note(s"functions.$name.ns_per_row", Stats.median((1 to 5).map(_ => block())))
    }
    val vecs = ki.vectors().select(col("embedding"))
    val sh = ki.text().select(Dedup.shingles(col("text"), 2).as("sh"))
    time("dot", vecs, VF.dot(col("embedding"), typedLit(ki.q)))
    time("bucket", vecs, AnnSearch.bucketCol(col("embedding"), ki.planes))
    time("shingle_fps", sh, Dedup.shingleFps(col("sh")))
    time("minhash_sig", sh.select(Dedup.shingleFps(col("sh")).as("fps")),
      Dedup.minhashSig(col("fps"), 32))
  }
}
