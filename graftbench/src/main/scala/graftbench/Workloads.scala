package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry, Tables}
import graft.functions.UrlFunctions
import graft.graph.WebGraph

/** One named result of a job, collected into the benchmark's JVM: the
  * job is only done once its results are materialized and checked. */
final case class Output(name: String, columns: Seq[String], rows: Array[Row]) {

  /** Rows as sorted text, doubles on the 1e-6 grid graft's own oracle
    * compare uses, so the digest ignores row order and float noise
    * below the grid. */
  def canonical: Array[String] = rows.map(_.toSeq.map {
    case d: Double => math.round(d * 1e6).toString
    case null => "\\N"
    case v => v.toString
  }.mkString("\t")).sorted

  /** Rows as TSV with full-precision doubles, for the oracle compare. */
  def tsv: String = (columns.mkString("\t") +: rows.toSeq.map(_.toSeq.map {
    case null => ""
    case v => v.toString
  }.mkString("\t"))).mkString("", "\n", "\n")
}

object Output {
  def apply(name: String, df: DataFrame): Output = Output(name, df.columns.toSeq, df.collect())

  def digest(outs: Seq[Output]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    outs.foreach { o =>
      md.update(s"#${o.name}\n".getBytes("UTF-8"))
      o.canonical.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** A benchmark workload: the program sees only the generated inputs
  * under `data`. */
trait Workload {
  /** One job: call the program, materialize and return its outputs. */
  def job(spark: SparkSession, data: String, t: Tracer): Seq[Output]

  /** DuckDB SQL per output name, over the input tables as views. */
  def oracleSql: Map[String, String]
}

object Workloads {
  def apply(name: String, seed: Long): Workload = name match {
    case "rank-session" => new RankSession(seed)
    case "dedup-pipeline" => DedupPipeline
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Rank-family queries of SparkEntry in one long-lived session, in an
  * order the seed picks. A job on an emptied SessionCache builds the
  * session memos; the jobs after it read them. */
final class RankSession(seed: Long) extends Workload {
  private val keys = new scala.util.Random(seed).shuffle(RankSession.Keys)
  private lazy val queries = SparkEntry.queries

  def job(spark: SparkSession, data: String, t: Tracer): Seq[Output] = {
    val outs = keys.map { k =>
      try t.span(s"queries.$k")(Output(k, queries(k)(spark, data)))
      finally t.span("checkpoints.drain")(Graft.drain(spark))
    }
    if (t.probing) {
      RankSession.ProbeKeys.foreach { k =>
        try t.probe(s"queries.$k")(Output(k, queries(k)(spark, data)))
        finally t.probe("checkpoints.drain")(Graft.drain(spark))
      }
      if (t.jobKind == "warm") probeLayers(spark, data, t)
    }
    outs
  }

  /** Traced warm jobs also time the layers under the queries one call at
    * a time, through their public entry points, on the session's own page
    * graph: the scan, link cleanup, host projection and each rank engine.
    * They run after the queries, so the queries' times are those of an
    * untraced job. */
  private def probeLayers(spark: SparkSession, data: String, t: Tracer): Unit = {
    t.probe("tables.scan") {
      Workloads.noop(Tables.lineitem(spark, data)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey")))
    }
    t.probe("webgraph.raw_edges") {
      t.note("webgraph.edges_in", WebGraph.rawEdges(spark, data).count().toDouble)
    }
    val edges = t.probe("webgraph.dedup") {
      val e = Graft.dedupLinks(WebGraph.rawEdges(spark, data)).persist()
      t.note("webgraph.edges_kept", e.count().toDouble)
      e
    }
    try {
      t.probe("functions.url_host") {
        Workloads.noop(edges.select(UrlFunctions.urlHost(col("src")),
          UrlFunctions.urlHost(col("dst"))))
      }
      t.probe("webgraph.host_edges") {
        t.note("webgraph.host_edges", WebGraph.hostEdges(edges).count().toDouble)
      }
      t.probe("graph.linkrank")(Graft.linkRank(spark, edges).collect())
      t.probe("graph.hostrank")(Graft.hostRank(spark, edges).collect())
      t.probe("graph.trustrank") {
        val init = WebGraph.vertices(edges).withColumn("score",
          when(pmod(hash(col("id")), lit(17)) === 0, lit(1.0)).otherwise(lit(0.1)))
        Graft.trustRank(spark, edges, init).collect()
      }
    } finally t.probe("checkpoints.drain") {
      Graft.drain(spark)
      edges.unpersist(blocking = true)
    }
  }

  def oracleSql: Map[String, String] = {
    val sql = SparkEntry.oracleSql
    RankSession.Keys.map(k => k -> sql(k)).toMap
  }
}

object RankSession {
  /** The session's job: LinkRank, TrustRank over LinkRank's memoized
    * `eod` and `vmap`, and the top-k page rank, which reads LinkRank's
    * memoized output. */
  val Keys: Seq[String] = Seq("q01_linkrank", "q02_trustrank", "q10_toprank")

  /** The other rank-family keys. Traced jobs time each after the job's
    * own keys; untraced jobs, which give every end-to-end metric, never
    * run them. */
  val ProbeKeys: Seq[String] = Seq("q03_hostrank", "q35_host_trustrank",
    "q68_incremental_rank", "q171_rank_trace")
}

/** Caller data through graft's training-data operators: exact dedup on
  * SimHash, MinHash-LSH near-duplicate pairs, benchmark decontamination
  * and brute-force k-NN over embeddings. */
object DedupPipeline extends Workload {
  val K = 10

  def job(spark: SparkSession, data: String, t: Tracer): Seq[Output] = {
    val docs = spark.read.parquet(s"$data/docs.parquet")
    val text = col("text")
    try {
      val exact = t.span("dedup.exact") {
        Output("exact", Graft.dedupExact(docs, col("doc_id"), Graft.simhash(text))
          .filter(col("is_dup")).select(col("doc_id"), col("canonical_id")))
      }
      val pairs = t.span("dedup.minhash_pairs") {
        Output("pairs", Graft.minhashPairs(docs, col("doc_id"), text))
      }
      val flagged = t.span("dedup.decontaminate") {
        val bench = spark.read.parquet(s"$data/bench.parquet")
        Output("contaminated", Graft.decontaminate(docs, col("doc_id"), text, bench, text)
          .filter(col("contaminated")).select(col("doc_id"), col("overlap_frac")))
      }
      val knn = t.span("ann.knn") {
        val emb = spark.read.parquet(s"$data/emb.parquet")
        val q = spark.read.parquet(s"$data/queries.parquet")
          .join(emb.select(col("doc_id").as("qid"), col("v").as("qv")), "qid")
        Output("knn", Graft.knnBrute(emb, col("doc_id"), col("v"), q, col("qid"), col("qv"), K))
      }
      // the kernels alone, after the operators that use them, so each
      // reads JIT-warm code
      if (t.probing && t.jobKind == "warm") Seq("plans.simhash" -> Graft.simhash _,
          "plans.minhash" -> Graft.minhashSignature _,
          "plans.shingle" -> Graft.shingleSet _).foreach { case (name, kernel) =>
        t.probe(name)(Workloads.noop(docs.select(kernel(text))))
      }
      Seq(exact, pairs, flagged, knn)
    } finally t.span("checkpoints.drain")(Graft.drain(spark))
  }

  def oracleSql: Map[String, String] = Map.empty
}
