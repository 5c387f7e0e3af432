package graft.perfbench

import graft.operators.AnnSearch
import graft.sources.{Layout, LayoutManifest}
import org.apache.spark.sql.functions.{col, concat_ws}

import scala.collection.mutable

/** `churn`: writes beside reads on one manifest-committed ANN layout with an
  * id bloom sidecar. Each cycle appends a batch (and rebuilds the sidecar
  * the new version needs), forgets live ids by bare id, runs probe reads
  * that must see both writes, then runs the compaction gate. The driver
  * keeps the live set, so every read and commit is checked exactly.
  */
final class Churn(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  private val (nBase, reps, batchN, forgetN, readsN) = ctx.size match {
    case Size.Smoke => (50, 10, 50, 10, 4)
    case Size.Full => (500, 20, 1000, 100, 6)
  }
  private val dim = 64
  private val rnd = new java.util.Random(ctx.seed * 7919L + 2)
  private val bases = Gen.bases(new java.util.Random(ctx.seed + 101), nBase, dim)
  private val planes = AnnSearch.hyperplanesFor(dim, (nBase * reps).toLong)

  // live rows: id -> (vector, bucket); ids kept in an indexable buffer for sampling
  private val live = mutable.HashMap.empty[Long, (Array[Float], Int)]
  private val liveIds = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.HashMap.empty[Long, Int]
  private var nextId = 0L

  private var path = ""
  private var targetBytes = 0L
  private var rawBytes = 0L
  private var writtenBytes = 0L
  private var compactions = 0

  private def add(id: Long, v: Array[Float]): Unit = {
    live(id) = (v, AnnSearch.bucketOf(v.toSeq, planes))
    slot(id) = liveIds.size
    liveIds += id
  }

  private def remove(id: Long): Unit = {
    live.remove(id)
    val i = slot.remove(id).get
    val last = liveIds.remove(liveIds.size - 1)
    if (last != id) { liveIds(i) = last; slot(last) = i }
  }

  private def fresh(n: Int): Seq[(Long, Array[Float], Int)] = Seq.fill(n) {
    val id = nextId
    nextId += 1
    (id, Gen.near(rnd, bases(rnd.nextInt(nBase))), rnd.nextInt(10))
  }

  def setup(dir: String): Unit = {
    path = s"$dir/layout"
    val init = fresh(nBase * reps)
    init.foreach { case (id, v, _) => add(id, v) }
    AnnSearch.clusteredWrite(init.toDF("id", "embedding", "label"), col("embedding"),
      planes, path, numFiles = 8)
    Layout.writeBloomSidecar(spark, path, "id")
    val m = LayoutManifest.current(spark, path).get
    val bytes = Layers.listing(spark, path).filter(_._1.endsWith(".parquet")).values.sum
    targetBytes = math.max(64L << 10, bytes / m.files.size)
  }

  private def committed(): Unit = {
    val m = LayoutManifest.current(spark, path).get
    Check(m.totalRows == live.size, s"manifest totalRows ${m.totalRows} != live ${live.size}")
  }

  private def present(ids: Seq[Long]): Long =
    LayoutManifest.readData(spark, path).filter(col("id").isin(ids: _*)).count()

  /** Run a write call, counting the bytes it adds under the layout. */
  private def write[T](r: Runner, op: String)(body: Call => T)(check: T => Unit): Unit = {
    val before = Layers.listing(spark, path)
    r.call(op)(body) { v =>
      writtenBytes += Layers.listing(spark, path).collect {
        case (f, n) if !before.contains(f) => n
      }.sum
      check(v)
    }
  }

  private def scored(q: Array[Float], probes: Set[Int]): Iterator[(String, Double)] = {
    val qn = math.sqrt(Ref.dot(q, q))
    live.iterator.collect {
      case (id, (v, b)) if probes(b) =>
        (id.toString, Ref.dot(v, q) / (math.sqrt(Ref.dot(v, v)) * qn))
    }
  }

  private def annRead(r: Runner, q: Array[Float], mustFind: Option[Long],
      mustMiss: Option[Long]): Unit = {
    val k = 5
    val radius = 1
    r.call("ann") { c =>
      val df = c.construct(AnnSearch.searchClusteredAt(spark, path, col("id"), col("embedding"),
        q.toSeq, planes, k, radius))
      c.plan(df)
      c.action(df.collect())
    } { rows =>
      val got = rows.toSeq.map(x => (x.getLong(0).toString, x.getDouble(1))) ++
        (if (r.faulty("ann")) Seq(("fault", 0.0)) else Nil)
      val probes = AnnSearch.probeBuckets(AnnSearch.bucketOf(q.toSeq, planes),
        planes.length, radius).toSet
      mustFind.foreach(id => Check(got.headOption.exists(_._1 == id.toString),
        s"appended id $id not found by its own vector"))
      mustMiss.foreach(id => Check(!got.exists(_._1 == id.toString), s"forgotten id $id was read"))
      Check.none(Ref.sameTopK(got, Ref.topK(scored(q, probes), k)))
    }
  }

  def cycle(r: Runner): Unit = {
    val batch = fresh(batchN)
    write(r, "append") { c =>
      val df = c.construct(AnnSearch.index(batch.toDF("id", "embedding", "label"),
        col("embedding"), planes))
      c.action {
        val n = Layout.appendCommitted(df, path)
        Layout.writeBloomSidecar(spark, path, "id")
        n
      }
    } { n =>
      batch.foreach { case (id, v, _) => add(id, v) }
      rawBytes += batch.size.toLong * (8 + 4 * dim + 4)
      Check(n == batch.size, s"append committed $n of ${batch.size} rows")
      committed()
      Check(present(batch.map(_._1)) == batch.size, "an appended id is missing")
    }

    val victims = Gen.shuffle(rnd, liveIds.toSeq).take(forgetN)
    val victimVecs = victims.map(id => id -> live(id)._1)
    write(r, "forget") { c =>
      val ids = c.construct(victims.toDF("id"))
      c.action(AnnSearch.deleteVectorsById(spark, path, "id", ids))
    } { case (_, rewritten, deleted) =>
      victims.foreach(remove)
      Check(deleted == victims.size, s"forget deleted $deleted of ${victims.size} ids")
      if (rewritten > 0) r.note("sources.forget_rows_per_file", deleted.toDouble / rewritten)
      committed()
      Check(present(victims) == 0, "a forgotten id is still stored")
    }

    (0 until readsN).foreach { i =>
      // a just-appended id may also have been forgotten: probe a live one
      val kept = batch.filter(b => live.contains(b._1))
      if (i % 2 == 0 && kept.nonEmpty) {
        val (id, v, _) = kept(rnd.nextInt(kept.size))
        annRead(r, v, Some(id), None)
      } else {
        val (id, v) = victimVecs(rnd.nextInt(victimVecs.size))
        annRead(r, v, None, Some(id))
      }
    }

    write(r, "compact") { c =>
      c.action {
        val d = Layout.maintainCompaction(spark, path, "bucket", targetBytes)
        if (d.compacted) Layout.writeBloomSidecar(spark, path, "id")
        d
      }
    } { d =>
      if (d.compacted) compactions += 1
      committed()
    }
  }

  // every cycle leaves batchN - forgetN more live rows and a few more files
  // and manifest versions; a cycle takes about 5 s on a 4-core machine, and
  // a 6 s run makes two
  val cycleSeconds = 3.0

  def probes(r: Runner): Unit = {
    val m = r.probe("sources.manifest_read_ms")(LayoutManifest.current(spark, path)).get
    r.note("sources.live_files", m.files.size.toDouble)
    val q = live(liveIds(rnd.nextInt(liveIds.size)))._1
    val files = AnnSearch.searchClusteredAt(spark, path, col("id"), col("embedding"),
      q.toSeq, planes, 5, 1).inputFiles.length
    r.note("sources.scan_file_frac", files.toDouble / m.files.size)
    Layers.storeNotes(r, spark, path, m)
  }

  override def finish(r: Runner): Unit =
    r.call("gc") { c =>
      val t0 = System.nanoTime
      c.action(LayoutManifest.gc(spark, path))
      r.note("gc_ms", (System.nanoTime - t0) / 1e6)
    } { _ =>
      committed()
      Check(LayoutManifest.readData(spark, path).count() == live.size,
        "stored rows differ from the live set after gc")
    }

  def kernelInput: KernelInput = KernelInput(
    () => LayoutManifest.readData(spark, path),
    () => LayoutManifest.readData(spark, path)
      .select(concat_ws(" ", col("id"), col("label"), col("bucket")).as("text")),
    planes, bases(0))

  def detail(r: Runner): Map[String, Any] = Map(
    "write_amp" -> (if (rawBytes > 0) writtenBytes.toDouble / rawBytes else Double.NaN),
    "sources.compactions" -> compactions,
    "size.initial_vectors" -> nBase * reps, "size.append_batch" -> batchN,
    "size.forget_batch" -> forgetN, "size.reads_per_cycle" -> readsN,
    "size.live_vectors_end" -> live.size)
}
