package graft.perfbench

import graft.operators.{AnnSearch, Curation, Dedup, Search, Sketches, TextAnalysis}
import graft.sources.{Layout, LayoutManifest, VectorStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `curate`: repeated batch passes of the LLM-data operators over a
  * committed corpus layout. One cycle is one pass of seven calls:
  * exact_dedup, minhash, components, quality, nll, decontam, quantiles.
  * The corpus has disjoint vocabularies per replica and planted exact and
  * near duplicates; every planted group must end up in one component, and
  * every pass's outputs must fingerprint equal to the first pass's.
  */
final class Curate(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  private val (replicas, perReplica, nEmb, nQueries, exactN, nearN) = ctx.size match {
    case Size.Smoke => (2, 250, 500, 16, 5, 10)
    case Size.Full => (4, 500, 5000, 256, 20, 40)
  }
  private val dim = 64
  private val rnd = new java.util.Random(ctx.seed * 7919L + 3)
  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")

  // corpus: base docs per replica (own vocabulary), then planted duplicates
  private val docs = mutable.ArrayBuffer.empty[(Long, String)]
  private val toks = mutable.ArrayBuffer.empty[Array[String]]
  private val exactGroups = mutable.ArrayBuffer.empty[Set[Long]]
  private val nearGroups = mutable.ArrayBuffer.empty[Set[Long]]
  locally {
    val g = new java.util.Random(ctx.seed + 202)
    val replicaOf = mutable.ArrayBuffer.empty[Int]
    def add(t: Array[String], rep: Int): Long = {
      val id = docs.size.toLong
      docs += ((id, t.mkString(" "))); toks += t; replicaOf += rep
      id
    }
    for (rep <- 0 until replicas; _ <- 0 until perReplica)
      add(Array.fill(10 + g.nextInt(91))(vocab(g.nextInt(vocab.size)) + rep), rep)
    val sources = Gen.shuffle(g, docs.indices.filter(i => toks(i).length >= 60))
    sources.take(exactN).foreach { i =>
      exactGroups += Set(i.toLong, add(toks(i).clone, replicaOf(i)))
    }
    sources.slice(exactN, exactN + nearN).foreach { i =>
      val src = toks(i)
      // each copy substitutes one token at its own position
      val copies = Gen.shuffle(g, src.indices).take(1 + g.nextInt(3)).map { p =>
        val t = src.clone
        t(p) = Iterator.continually(vocab(g.nextInt(vocab.size)) + replicaOf(i))
          .find(_ != src(p)).get
        add(t, replicaOf(i))
      }
      nearGroups += (copies.toSet + i.toLong)
    }
  }
  private val nDocs = docs.size

  private val embIds = Array.tabulate(nEmb)(i => f"e$i%07d")
  private val embs = Gen.vectors(new java.util.Random(ctx.seed + 303), math.max(1, nEmb / 10), 10, dim)
  private val queries = Array.fill(nQueries)(Gen.near(rnd, embs(rnd.nextInt(nEmb))))
  private val planes = AnnSearch.hyperplanesFor(dim, nEmb.toLong)

  private var corpusPath = ""
  private var embPath = ""
  private val firstFp = mutable.HashMap.empty[String, String]
  private var pass = 0
  private var verifiedPairs = 0L
  private var counted = false

  def setup(dir: String): Unit = {
    corpusPath = s"$dir/corpus"
    embPath = s"$dir/embeddings"
    docs.toSeq.toDF("doc_id", "text").repartition(8).write.parquet(corpusPath)
    Layout.commitLayout(spark, corpusPath, Seq("doc_id"))
    val raw = embIds.indices.map(i => (embIds(i), embs(i), "{}")).toDF("id", "embedding", "metadata")
    VectorStore(VectorStore.ingest(raw, col("id"), col("embedding"), col("metadata"))).persist(embPath)
  }

  private def corpus(): DataFrame = LayoutManifest.readData(spark, corpusPath)

  /** The pass's outputs must fingerprint equal to the first pass's. */
  private def stable(stage: String, fp: String): Unit = firstFp.get(stage) match {
    case Some(f) => Check(f == fp, s"$stage output changed between passes")
    case None => firstFp(stage) = fp
  }

  private def sortedFp(rows: Seq[Row]): String = rows.map(_.mkString("|")).sorted.mkString(";").hashCode.toString

  /** An order-independent (count, xor of row hashes) aggregate. */
  private def fpAgg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), bit_xor(xxhash64(df.columns.toSeq.map(col): _*)).as("h"))

  private def bigrams(t: Array[String]): Set[(String, String)] =
    t.iterator.sliding(2).collect { case Seq(a, b) => (a, b) }.toSet

  def cycle(r: Runner): Unit = {
    r.call("exact_dedup") { c =>
      val df = c.construct(Dedup.exactDedup(corpus(), col("doc_id"), col("text"))
        .filter(col("group_size") > 1))
      c.plan(df)
      c.action(df.collect())
    } { rows =>
      val groups = rows.groupBy(_.getAs[String]("content_key")).values
        .map(_.map(_.getAs[Long]("id")).toSet).toSet
      Check(groups == exactGroups.toSet, s"exact-duplicate groups differ: ${groups.size} found, ${exactGroups.size} planted")
      stable("exact_dedup", sortedFp(rows.toSeq))
    }

    val pairs = r.call("minhash") { c =>
      val df = c.construct(Dedup.minhashLshPairs(corpus(), col("doc_id"), col("text")))
      c.plan(df)
      c.action(df.collect())
    } { rows =>
      rows.foreach { x =>
        val (a, b) = (bigrams(toks(x.getLong(0).toInt)), bigrams(toks(x.getLong(1).toInt)))
        val inter = a.intersect(b).size
        val j = inter.toDouble / (a.size + b.size - inter)
        Check(math.abs(j - x.getDouble(2)) < 1e-9 && j >= 0.5,
          s"pair (${x.getLong(0)}, ${x.getLong(1)}) jaccard ${x.getDouble(2)} vs $j")
      }
      verifiedPairs = rows.length
      stable("minhash", sortedFp(rows.toSeq))
    }.map(_.toSeq.map(x => (x.getLong(0), x.getLong(1)))).getOrElse(Nil)

    r.call("components") { c =>
      val labels = c.construct {
        val (route, df) = Dedup.connectedComponentsAutoRouted(
          corpus().select(col("doc_id").as("id")), pairs.toDF("id_a", "id_b"))
        r.note("components.driver_route_frac", if (route == "driver") 1.0 else 0.0)
        df
      }
      c.plan(labels)
      c.action(labels.collect())
    } { rows =>
      val label = rows.map(x => x.getLong(0) -> x.getLong(1)).toMap ++
        (if (r.faulty("components")) nearGroups.headOption.map(g => g.max -> -1L) else None)
      (exactGroups ++ nearGroups).foreach { g =>
        Check(g.map(label.get).size == 1 && g.forall(label.contains),
          s"planted group ${g.toSeq.sorted.mkString(",")} split across components")
      }
      stable("components", sortedFp(rows.toSeq))
    }

    r.call("quality") { c =>
      val df = c.construct {
        val d = corpus()
        fpAgg(Curation.gopherFilter(d, col("doc_id"), col("text"))
          .join(d.select(col("doc_id").as("id"),
            round(TextAnalysis.qualityScore(col("text")), 6).as("quality")), "id"))
      }
      c.plan(df)
      c.action(df.head())
    } { row =>
      Check(row.getLong(0) == nDocs, s"quality scored ${row.getLong(0)} of $nDocs docs")
      stable("quality", row.mkString("|"))
    }

    r.call("nll") { c =>
      val df = c.construct(fpAgg(TextAnalysis.unigramNll(corpus(), col("doc_id"), col("text"))))
      c.plan(df)
      c.action(df.head())
    } { row =>
      Check(row.getLong(0) == nDocs, s"nll scored ${row.getLong(0)} of $nDocs docs")
      if (pass == 0) checkNll()
      stable("nll", row.mkString("|"))
    }

    r.call("decontam") { c =>
      val df = c.construct(Search.findMostSimilarBatch(VectorStore.load(spark, embPath),
        queries.indices.map(i => (i, queries(i))).toDF("query_id", "query_vec"), k = 5))
      c.plan(df)
      c.action(df.collect())
    } { rows =>
      if (pass == 0) checkDecontam(rows.toSeq)
      Check(rows.length == nQueries * math.min(5, nEmb), s"decontam returned ${rows.length} rows")
      r.note("decontam.pairs_scored", nQueries.toDouble * nEmb)
      stable("decontam", sortedFp(rows.toSeq))
    }

    r.call("quantiles") { c =>
      val df = c.construct(Sketches.histogramQuantilesAdaptive(
        corpus().select(round(TextAnalysis.qualityScore(col("text")), 6).as("q")), col("q"),
        Seq(0.1, 0.25, 0.5, 0.75, 0.9)))
      c.plan(df)
      c.action(df.collect())
    } { rows =>
      val est = rows.map(_.getDouble(1))
      Check(est.length == 5 && est.sameElements(est.sorted), s"quantiles ${est.mkString(",")}")
      stable("quantiles", sortedFp(rows.toSeq))
    }
    pass += 1
  }

  /** Unigram NLL of a sample of docs against a driver-side LM. */
  private def checkNll(): Unit = {
    val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    toks.foreach(_.foreach(t => counts(t) += 1))
    val total = math.log(counts.values.sum.toDouble)
    TextAnalysis.unigramNll(corpus(), col("doc_id"), col("text"))
      .filter(col("id") < 50).collect().foreach { x =>
        val t = toks(x.getLong(0).toInt)
        val want = -t.map(w => math.log(counts(w).toDouble) - total).sorted.sum / t.length
        Check(math.abs(want - x.getDouble(1)) < 1e-9, s"nll of doc ${x.getLong(0)}: ${x.getDouble(1)} vs $want")
      }
  }

  /** Every query's top-5 against a driver-side brute force. */
  private def checkDecontam(rows: Seq[Row]): Unit = {
    val got = rows.groupBy(_.getAs[Int]("query_id")).map { case (q, xs) =>
      q -> xs.sortBy(_.getAs[Int]("rank")).map(x => (x.getAs[String]("id"), x.getAs[Double]("score")))
    }
    queries.indices.foreach { qi =>
      val q = queries(qi)
      val qn = math.sqrt(Ref.dot(q, q))
      val want = Ref.topK(embIds.indices.iterator.map(i =>
        (embIds(i), Ref.dot(embs(i), q) / (math.sqrt(Ref.dot(embs(i), embs(i))) * qn))), 5)
      Check.none(Ref.sameTopK(got.getOrElse(qi, Nil), want).map(m => s"query $qi: $m"))
    }
  }

  // a pass takes about 6 s on a 4-core machine, and a 6 s run makes two
  val cycleSeconds = 3.0

  def probes(r: Runner): Unit = {
    val m = r.probe("sources.manifest_read_ms")(LayoutManifest.current(spark, corpusPath)).get
    r.note("sources.live_files", m.files.size.toDouble)
    r.note("sources.scan_file_frac", corpus().inputFiles.length.toDouble / m.files.size)
    Layers.storeNotes(r, spark, corpusPath, m)
    if (!counted) {
      counted = true
      val cand = candidatePairs()
      r.note("minhash.candidate_pairs", cand.toDouble)
      r.note("minhash.verified_pairs", verifiedPairs.toDouble)
      r.note("minhash.verify_yield", if (cand > 0) verifiedPairs.toDouble / cand else 1.0)
    }
  }

  /** Pairs sharing a band of the same 32-hash, 8-band signatures the
    * minhash call uses: the candidates it verifies.
    */
  private def candidatePairs(): Long = {
    val sigs = corpus().select(col("doc_id"),
      Dedup.minhashSig(Dedup.shingleFps(Dedup.shingles(col("text"), 2)), 32).as("sig"))
      .collect().map(x => (x.getLong(0), x.getSeq[Long](1)))
    val cand = mutable.HashSet.empty[(Long, Long)]
    (0 until 8).foreach { b =>
      sigs.groupBy(_._2.slice(b * 4, b * 4 + 4)).values.foreach { g =>
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) cand += ((ids(i), ids(j)))
      }
    }
    cand.size.toLong
  }

  def kernelInput: KernelInput = KernelInput(
    () => spark.read.parquet(embPath), () => corpus(), planes, queries(0))

  def detail(r: Runner): Map[String, Any] = {
    val passMs = r.samples.groupBy(_.cycle).values.map(_.map(_.ms).sum)
    Map("docs_per_s" -> nDocs / (Stats.median(passMs) / 1000),
      "size.docs" -> nDocs, "size.embeddings" -> nEmb, "size.eval_queries" -> nQueries,
      "size.planted_exact" -> exactN, "size.planted_near" -> nearN)
  }
}
