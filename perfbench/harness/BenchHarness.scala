package org.apache.spark.perfbench

// In an org.apache.spark package only to reach LiveListenerBus.waitUntilEmpty:
// the stage counters below must be complete before they are read.

import graft.{BillMatch, CorpusBuild, GraftSession, SparkEntry}
import graft.candidates.{CandidateConfig, Candidates}
import graft.cluster.Clustering
import graft.dedup.MinHashDedup
import graft.graph.GraphOps
import graft.io.Tables
import graft.post.Post
import graft.similarity.Kernels
import graft.text.{FeatureConfig, FeaturePipeline, TextOps}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark harness: one JVM per invocation, results as `BENCH {json}` lines.
  *
  *   main <MainClass> <args...>            the main as a user runs it
  *   registry <sfDir> <outDir> <q,...>    registry queries, outputs as parquet
  *   oracles <outDir> <q,...>              only their oracle SQL and gate pins
  *   trace kmeans <data> <out> <k> <topK>
  *   trace corpus <data> <out>
  *   trace registry <sfDir> <outDir> <q,...>   per-layer replay of the above
  *
  * The first line is `ready_ms`, the wall clock when the SparkSession is up.
  */
object BenchHarness {

  private def jsonStr(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def emit(fields: (String, Any)*): Unit = {
    val body = fields.map { case (k, v) =>
      val js = v match {
        case s: String => jsonStr(s)
        case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
        case other => other.toString
      }
      "\"" + k + "\": " + js
    }.mkString(", ")
    println("BENCH {" + body + "}")
    Console.out.flush()
  }

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    emit("ready_ms" -> System.currentTimeMillis())
    args(0) match {
      case "main" => runMain(args(1), args.drop(2))
      case "registry" => runRegistry(spark, args(1), args(2), args(3).split(',').toSeq)
      case "oracles" => dumpOracles(args(1), args(2).split(',').toSeq)
      case "trace" => new Trace(spark).run(args.drop(1))
    }
    spark.stop()
  }

  /** Times one call of a program main; the main reuses the session above
    * (GraftSession.local is getOrCreate) and stops it itself. */
  private def runMain(cls: String, args: Array[String]): Unit = {
    val (cpu0, t0) = (cpuNanos(), System.nanoTime())
    cls match {
      case "BillMatch" => BillMatch.main(args)
      case "CorpusBuild" => CorpusBuild.main(args)
    }
    emit("job_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (cpuNanos() - cpu0) / 1e9)
  }

  /** Each query once, in a fresh session after clearCache, every column
    * materialized by writing its output as parquet (which the oracle compare
    * then reads). A query that throws is reported in `failed`; the oracle SQL
    * and gate pins of the selected queries are dumped after the timed part. */
  private def runRegistry(spark: SparkSession, sfDir: String, outDir: String,
                          names: Seq[String]): Unit = {
    val (cpu0, t0) = (cpuNanos(), System.nanoTime())
    val failed = names.filterNot(q => writeQuery(fresh(spark), q, sfDir, outDir))
    emit("job_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (cpuNanos() - cpu0) / 1e9,
      "failed" -> failed.mkString(","))
    dumpOracles(outDir, names)
  }

  /** `oracles.json`: {query: {"sql": oracle SQL, "pin": "rows:checksum"}}
    * for the named queries (either key absent when the registry has none). */
  private def dumpOracles(outDir: String, names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    val sql = SparkEntry.oracleSql
    val defs = SparkEntry.defs
    val body = names.map { q =>
      val fields = sql.get(q).map(s => s""""sql": ${jsonStr(s)}""").toSeq ++
        defs(q).expect.map(e => s""""pin": ${jsonStr(s"${e.rows}:${e.checksum.getOrElse("")}")}""")
      s"${jsonStr(q)}: {${fields.mkString(", ")}}"
    }.mkString("{", ",\n", "}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracles.json"),
      body.getBytes("UTF-8"))
  }

  private def writeQuery(s: SparkSession, q: String, sfDir: String,
                         outDir: String): Boolean =
    try {
      SparkEntry.queries(q)(s, sfDir).write.mode("overwrite").parquet(s"$outDir/$q")
      true
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] $q failed: $e")
        false
    }

  private def fresh(spark: SparkSession): SparkSession = {
    spark.catalog.clearCache()
    spark.newSession()
  }

  /** Per job group stage totals, from the listener bus. */
  final class StageTotals extends SparkListener {
    final class Acc {
      var shuffleWrite = 0L
      var diskSpill = 0L
      var oneTaskSlow = 0
    }
    private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Acc]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty(org.apache.spark.SparkContext.SPARK_JOB_GROUP_ID)))
        .getOrElse("-")
      e.stageIds.foreach(stageGroup.put(_, g))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val acc = byGroup.computeIfAbsent(
        stageGroup.getOrDefault(info.stageId, "-"), _ => new Acc)
      val m = info.taskMetrics
      val ms = for (s <- info.submissionTime; c <- info.completionTime) yield c - s
      acc.synchronized {
        if (m != null) {
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.diskSpill += m.diskBytesSpilled
        }
        if (info.numTasks == 1 && ms.exists(_ > 500)) acc.oneTaskSlow += 1
      }
    }

    def sum(prefix: String)(f: Acc => Long): Long =
      byGroup.asScala.collect { case (g, a) if g.startsWith(prefix) => f(a) }.sum
  }

  /** Replays a main's stage sequence through the same public calls,
    * materializing each stage before the next one is timed. */
  final class Trace(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val totals = new StageTotals
    sc.addSparkListener(totals)
    private val secs = mutable.LinkedHashMap.empty[String, Double]
    private val counts = mutable.LinkedHashMap.empty[String, Double]

    private def span[T](layer: String)(body: => T): T = {
      sc.setJobGroup(layer, layer)
      val t0 = System.nanoTime()
      try body
      finally {
        secs(layer) = secs.getOrElse(layer, 0.0) + (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
      }
    }

    private def materialize(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

    /** Cross-group all-pairs count: (N² − Σ n_g²) / 2. */
    private def crossGroupPairs(docs: DataFrame): Double = {
      val n = docs.groupBy("lang").count().collect().map(_.getLong(1).toDouble)
      (n.sum * n.sum - n.map(x => x * x).sum) / 2
    }

    private def recall(pairs: DataFrame, truth: DataFrame): Double = {
      val canon = pairs.select(least(col("pk1"), col("pk2")).as("pk1"),
        greatest(col("pk1"), col("pk2")).as("pk2")).distinct()
      val total = truth.count().toDouble
      if (total == 0) 0.0 else truth.join(canon, Seq("pk1", "pk2")).count() / total
    }

    private def nnzPerDoc(feats: DataFrame): Double =
      feats.select("features").rdd.map(_.getAs[Vector](0).numNonzeros.toDouble).mean()

    private def dirMb(path: String): Double = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum / 1e6
      finally s.close()
    }

    def run(args: Array[String]): Unit = {
      val (gc0, t0) = (gcMillis(), System.nanoTime())
      args(0) match {
        case "kmeans" => billMatch(args(1), args(2), args(3).toInt, args(4).toInt)
        case "corpus" => corpus(args(1), args(2))
        case "registry" => registry(args(1), args(2), args(3).split(',').toSeq)
      }
      val job = (System.nanoTime() - t0) / 1e9
      sc.listenerBus.waitUntilEmpty()
      val mb = 1e6
      val fields = Seq[(String, Any)](
        "job_s" -> job,
        "jvm.gc_s" -> (gcMillis() - gc0) / 1e3,
        "spark.spill_mb" -> totals.sum("")(_.diskSpill) / mb,
        "candidates.shuffle_mb" -> totals.sum("candidates")(_.shuffleWrite) / mb,
        "dedup.shuffle_mb" -> totals.sum("dedup")(_.shuffleWrite) / mb,
        "queries.one_task_stages" -> totals.sum("queries")(_.oneTaskSlow.toLong)) ++
        secs.toSeq.map { case (k, v) => s"${k}_s" -> v } ++ counts.toSeq
      emit(fields: _*)
    }

    /** BillMatch.main's workflow-1 (k-means blocking) stage sequence. */
    private def billMatch(data: String, out: String, k: Int, topK: Int): Unit = {
      val planted = spark.read.parquet(s"$data/planted_pairs.parquet")
      val docs = span("io.read") {
        materialize(Tables.spread(Tables.documents(spark, data)))
      }
      val allPairs = crossGroupPairs(docs)
      val feats = span("text.featurize") {
        materialize(FeaturePipeline.features(docs, FeatureConfig(numTextFeatures = 1024))
          .select("doc_id", "lang", "n_chars", "features"))
      }
      counts("text.nnz_per_doc") = nnzPerDoc(feats)
      val clustered = span("cluster.kmeans") {
        materialize(Clustering.kmeans(feats, k = k, maxIter = 20)._2)
      }
      val pairs = span("candidates.join") {
        materialize(Candidates.pairs(clustered, CandidateConfig(
          keyCol = "doc_id", groupCol = "lang", blockCol = Some("prediction"),
          lengthCol = Some("n_chars"), maxLengthRatio = 0.26)))
      }
      val n = pairs.count().toDouble
      counts("candidates.pairs") = n
      counts("candidates.reduction_x") = if (n > 0) allPairs / n else 0.0
      counts("blocking.planted_recall") = recall(pairs, planted)
      val kernel = Kernels.udfFor("cosine")
      val scored = span("similarity.score") {
        materialize(Candidates.attachBothSides(pairs,
            clustered.select(col("doc_id"), col("features")), "doc_id", "features")
          .select(col("pk1"), col("pk2"),
            kernel(col("features_1"), col("features_2")).as("similarity")))
      }
      counts("similarity.pairs_per_s") = n / secs("similarity.score")
      val top = span("post.topk")(materialize(Post.topK(scored, topK)))
      span("io.write")(top.write.mode("overwrite").parquet(s"$out/pairs.parquet"))
      val canonical = materialize(GraphOps.canonicalEdges(
        top.select(col("pk1").as("src"), col("pk2").as("dst")), "src", "dst"))
      counts("graph.edges") = canonical.count().toDouble
      val pr = span("graph.pagerank")(materialize(GraphOps.pageRankDF(canonical, numIter = 10)))
      val tri = span("graph.triangles")(materialize(GraphOps.triangleCounts(canonical)))
      span("io.write") {
        pr.join(tri, Seq("vertex"), "outer")
          .write.mode("overwrite").parquet(s"$out/graph.parquet")
      }
      counts("io.write_mb") = dirMb(out)
    }

    /** CorpusBuild.build's stage sequence with its default Config, written
      * as CorpusBuild.main writes it; corpus.rest is the quality gate,
      * decontamination and split, i.e. the build outside its dedup calls. */
    private def corpus(data: String, out: String): Unit = {
      val cfg = CorpusBuild.Config()
      val nearTruth = spark.read.parquet(s"$data/near_dups.parquet")
        .filter(col("jaccard") >= cfg.jaccardThreshold)
      val docs = span("io.read")(materialize(Tables.documents(spark, data)))
      val gated = span("corpus.rest") {
        materialize(docs
          .withColumn("n_tok", TextOps.tokenCount(col("text")).cast("long"))
          .filter(col("n_tok").between(cfg.minTok, cfg.maxTok)))
      }
      val exact = span("dedup.exact") {
        materialize(MinHashDedup.dedupExact(gated, "doc_id", "text"))
      }
      counts("dedup.exact_removed") = (gated.count() - exact.count()).toDouble
      val (pairs, deduped) = span("dedup.neardup") {
        val p = materialize(MinHashDedup.nearDupPairs(exact,
          MinHashDedup.Config(jaccardThreshold = cfg.jaccardThreshold)))
        (p, materialize(exact.join(p.select(col("d2").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")))
      }
      counts("dedup.neardup_pairs") = pairs.count().toDouble
      val ids = exact.select("doc_id")
      val reachable = nearTruth
        .join(ids.withColumnRenamed("doc_id", "d1"), "d1")
        .join(ids.withColumnRenamed("doc_id", "d2"), "d2")
      counts("dedup.planted_recall") = recall(
        pairs.select(col("d1").as("pk1"), col("d2").as("pk2")),
        reachable.select(col("d1").as("pk1"), col("d2").as("pk2")))
      val corpus = span("corpus.rest") {
        val bench = docs.filter(col("doc_id") % cfg.evalMod === 0)
          .select(explode(array_distinct(
            TextOps.ngrams(TextOps.tokens(col("text")), 4))).as("g"))
          .distinct()
        val contaminated = deduped
          .filter(col("doc_id") % cfg.evalMod =!= 0)
          .select(col("doc_id"),
            explode(TextOps.ngrams(TextOps.tokens(col("text")), 4)).as("g"))
          .join(broadcast(bench), "g")
          .select("doc_id").distinct()
        // CorpusBuild's split label (a private helper there)
        val b = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 12),
          16, 10).cast("long") % 10
        materialize(deduped
          .filter(col("doc_id") % cfg.evalMod =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti")
          .withColumn("split", when(b < 8, "train").when(b === 8, "val").otherwise("test"))
          .select("doc_id", "lang", "source", "n_tok", "split", "text"))
      }
      span("io.write") {
        corpus.write.mode("overwrite").partitionBy("split").parquet(s"$out/corpus.parquet")
        corpus.groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
          .orderBy("split", "lang")
          .write.mode("overwrite").parquet(s"$out/report.parquet")
      }
      counts("io.write_mb") = dirMb(out)
    }

    private def registry(sfDir: String, outDir: String, names: Seq[String]): Unit = {
      names.foreach(q => span(s"queries.$q")(writeQuery(fresh(spark), q, sfDir, outDir)))
      dumpOracles(outDir, names)
    }
  }
}
