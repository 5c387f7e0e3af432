package graft.perfbench

import graft.operators.{AnnSearch, Eq, FilterValue, MetaValue, Ops, Search}
import graft.operators.MetaValue.{MLong, MStr}
import graft.sources.{LayoutManifest, VectorStore}
import org.apache.spark.sql.functions.col

/** A seeded metadata filter in FilterDsl form, with its driver-side twin. */
final case class Filt(name: String, pred: Int => Boolean,
    and: Seq[Map[String, FilterValue]] = Nil,
    or: Seq[Map[String, FilterValue]] = Nil,
    excl: Seq[Map[String, MetaValue]] = Nil)

/** `serve`: the reference's one-call-per-request traffic against a persisted
  * store. Each cycle is a block of ten calls in seeded order: six filtered
  * exact top-k (`knn`), three manifest-pruned probe reads (`ann`) and one
  * point lookup (`get`). Every answer is checked against a driver-side
  * brute force over the generated vectors.
  */
final class Serve(ctx: Ctx) extends Workload {
  import ctx.spark

  private val (nBase, reps) = ctx.size match {
    case Size.Smoke => (100, 5)
    case Size.Full => (1000, 20)
  }
  private val n = nBase * reps
  private val dim = 64
  private val rnd = new java.util.Random(ctx.seed * 7919L + 1)

  // generated inputs, kept on the driver for the output checks
  private val vecs = Gen.vectors(new java.util.Random(ctx.seed), nBase, reps, dim)
  private val ids = Array.tabulate(n)(i => f"v$i%07d")
  private val norms = vecs.map(v => Ref.dot(v, v))
  private val meta = new java.util.Random(ctx.seed + 17)
  private val label = Array.fill(n)(meta.nextInt(10))
  private val num = Array.fill(n)(meta.nextInt(1000))
  private val cats = Array.fill(n)(
    meta.ints(0, 8).distinct().limit(1 + meta.nextInt(3)).toArray.map(c => s"c$c"))
  private val date = Array.fill(n)(
    java.time.LocalDate.of(2020, 1, 1).plusDays(meta.nextInt(1826).toLong).toString)
  private val planes = AnnSearch.hyperplanesFor(dim, n.toLong)
  private val bucket = vecs.map(v => AnnSearch.bucketOf(v.toSeq, planes))

  private var plain = ""
  private var ann = ""

  private def metaJson(i: Int): String =
    s"""{"label": ${label(i)}, "cats": [${cats(i).map(c => "\"" + c + "\"").mkString(", ")}], """ +
      s""""num": ${num(i)}, "date": "${date(i)}"}"""

  def setup(dir: String): Unit = {
    import spark.implicits._
    plain = s"$dir/store"
    ann = s"$dir/ann"
    val raw = (0 until n).map(i => (ids(i), vecs(i), metaJson(i)))
      .toDF("id", "embedding", "metadata")
    VectorStore(VectorStore.ingest(raw, col("id"), col("embedding"), col("metadata")))
      .persist(plain)
    AnnSearch.clusteredWrite(VectorStore.load(spark, plain).df, col("embedding"),
      planes, ann, numFiles = 16)
  }

  private def ops(xs: (String, MetaValue)*): Ops = Ops(xs.toSeq)

  // call counters: the mix of filter shapes, k, autocut and probe radius is
  // the same in every run; the seed draws the values
  private var knnCalls = 0
  private var annCalls = 0

  /** Seeded filters from every FilterDsl shape in turn; selectivity 0.1% to 100%. */
  private def filter(shape: Int): Filt = {
    val l = rnd.nextInt(10)
    shape % 8 match {
      case 0 => Filt("all", _ => true)
      case 1 => Filt("eq", i => label(i) == l, and = Seq(Map("label" -> Eq(MLong(l)))))
      case 2 =>
        val w = if (rnd.nextBoolean()) 100 else 500
        val a = rnd.nextInt(1000 - w)
        Filt("and_range", i => label(i) == l && num(i) >= a && num(i) < a + w,
          and = Seq(Map("label" -> Eq(MLong(l)), "num" -> ops("$gte" -> MLong(a), "$lt" -> MLong(a + w)))))
      case 3 =>
        val m = (l + 1 + rnd.nextInt(9)) % 10
        Filt("or", i => label(i) == l || label(i) == m,
          or = Seq(Map("label" -> Eq(MLong(l))), Map("label" -> Eq(MLong(m)))))
      case 4 => Filt("exclude", i => label(i) != l, excl = Seq(Map("label" -> MLong(l))))
      case 5 =>
        val c = s"c${rnd.nextInt(8)}"
        Filt("in", i => cats(i).contains(c), and = Seq(Map("cats" -> ops("$in" -> MStr(c)))))
      case 6 =>
        val y = 2020 + rnd.nextInt(5)
        val (from, to) = (s"$y-01-01", s"$y-07-01")
        Filt("date_range", i => date(i) >= from && date(i) < to,
          and = Seq(Map("date" -> ops("$gte" -> MStr(from), "$lt" -> MStr(to)))))
      case _ =>
        val a = rnd.nextInt(990)
        Filt("tight", i => label(i) == l && num(i) >= a && num(i) < a + 10,
          and = Seq(Map("label" -> Eq(MLong(l)), "num" -> ops("$gte" -> MLong(a), "$lt" -> MLong(a + 10)))))
    }
  }

  private def query(): Array[Float] = Gen.near(rnd, vecs(rnd.nextInt(n)))

  private def scored(q: Array[Float], rows: Iterator[Int]): Iterator[(String, Double)] = {
    val qn = math.sqrt(Ref.dot(q, q))
    rows.map(i => (ids(i), Ref.dot(vecs(i), q) / (math.sqrt(norms(i)) * qn)))
  }

  private def knn(r: Runner): Unit = {
    val q = query()
    val f = filter(knnCalls)
    val k = if (knnCalls % 2 == 0) 5 else 10
    val autocut = knnCalls % 10 == 9
    knnCalls += 1
    r.call("knn") { c =>
      val df = c.construct(Search.findMostSimilar(VectorStore.load(spark, plain), q.toSeq,
        f.and, f.excl, f.or, k, autocut))
      c.plan(df)
      c.action(df.collect())
    } { rows =>
      val got = rows.toSeq.map(x => (x.getString(0), x.getDouble(1))) ++
        (if (r.faulty("knn")) Seq(("fault", 0.0)) else Nil)
      val pass = (0 until n).filter(f.pred)
      val top = Ref.topK(scored(q, pass.iterator), k)
      Check.none(Ref.sameTopK(got, if (autocut) Ref.autocut(top) else top).map(m => s"${f.name}: $m"))
      r.note("knn.filter_pass_frac", pass.size.toDouble / n)
    }
  }

  private def annRead(r: Runner): Unit = {
    val q = query()
    val k = if (annCalls % 2 == 0) 5 else 10
    val radius = 1 + annCalls % 3 / 2
    annCalls += 1
    r.call("ann") { c =>
      val df = c.construct(AnnSearch.searchClusteredAt(spark, ann, col("id"), col("embedding"),
        q.toSeq, planes, k, radius))
      c.plan(df)
      c.action(df.collect())
    } { rows =>
      val got = rows.toSeq.map(x => (x.getString(0), x.getDouble(1))) ++
        (if (r.faulty("ann")) Seq(("fault", 0.0)) else Nil)
      val probes = AnnSearch.probeBuckets(AnnSearch.bucketOf(q.toSeq, planes),
        planes.length, radius).toSet
      val want = Ref.topK(scored(q, (0 until n).iterator.filter(i => probes(bucket(i)))), k)
      Check.none(Ref.sameTopK(got, want))
      val exact = Ref.topK(scored(q, (0 until n).iterator), k).map(_._1).toSet
      r.note("ann.recall_at_k", got.count(g => exact(g._1)).toDouble / exact.size)
    }
  }

  private def get(r: Runner): Unit = {
    val i = rnd.nextInt(n)
    r.call("get") { c =>
      val store = c.construct(VectorStore.load(spark, plain))
      c.action(store.getVector(ids(i)))
    } { v =>
      val got = if (r.faulty("get")) v.map(_ + 1e-3f) else v
      Check(got.map(java.lang.Float.floatToRawIntBits).sameElements(
        vecs(i).map(java.lang.Float.floatToRawIntBits)), s"vector of ${ids(i)} differs")
    }
  }

  def cycle(r: Runner): Unit = {
    val block = Seq.fill(6)("knn") ++ Seq.fill(3)("ann") :+ "get"
    Gen.shuffle(rnd, block).foreach {
      case "knn" => knn(r)
      case "ann" => annRead(r)
      case _ => get(r)
    }
  }

  // a cycle takes about 2 s on a 4-core machine; a 6 s run makes four, whose
  // 24 knn calls are three rounds of the eight filter shapes
  val cycleSeconds = 1.5

  def probes(r: Runner): Unit = {
    val m = r.probe("sources.manifest_read_ms")(LayoutManifest.current(spark, ann)).get
    r.note("sources.live_files", m.files.size.toDouble)
    val q = query()
    val files = AnnSearch.searchClusteredAt(spark, ann, col("id"), col("embedding"),
      q.toSeq, planes, 5, 1 + rnd.nextInt(2)).inputFiles.length
    r.note("sources.scan_file_frac", files.toDouble / m.files.size)
    Layers.storeNotes(r, spark, ann, m)
  }

  def kernelInput: KernelInput = KernelInput(
    () => spark.read.parquet(plain), () => spark.read.parquet(plain).select(col("metadata").as("text")),
    planes, vecs(0))

  def detail(r: Runner): Map[String, Any] = Map(
    "size.vectors" -> n, "size.dim" -> dim, "size.planes" -> planes.length)
}
