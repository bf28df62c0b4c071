package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.{Dedup, GraphRank, PrepPipeline, Similarity}

/** The composed queries run on their own [[Sessions.composed]] clone (AQE
  * off, host width `min(8, defaultParallelism)`), no query writes the
  * conf of the session it was handed, only [[Tables]] reads a driver
  * table file, and only [[graft.analytics.IvfIndex]] names an index
  * artifact. */
class ComposedSessionSpec extends SparkSpec {

  private val composedQueries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "PrepPipeline.manifest" -> PrepPipeline.manifest,
    "PrepPipeline.manifestSemantic" -> PrepPipeline.manifestSemantic,
    "GraphRank.pagerankQuery" -> ((s, d) => GraphRank.pagerankQuery(s, d)),
    "Similarity.knnEvalQuery" -> Similarity.knnEvalQuery,
    "Similarity.mmrRerank" -> ((s, d) => Similarity.mmrRerank(s, d)),
    // the IVF index family: inline builds, a served face, a lifecycle face
    "Similarity.annIvfQuery" -> Similarity.annIvfQuery,
    "Similarity.annIvfSq8Query" -> Similarity.annIvfSq8Query,
    "Similarity.annIvfPqQuery" -> Similarity.annIvfPqQuery,
    "Similarity.annIvfOpqQuery" -> Similarity.annIvfOpqQuery,
    "Similarity.annIvfProjectedQuery" -> Similarity.annIvfProjectedQuery,
    "Similarity.annIvfBalancedQuery" -> Similarity.annIvfBalancedQuery,
    "Similarity.annIvfRangeQuery" -> Similarity.annIvfRangeQuery,
    "Similarity.annIvfServedQuery(pq)" -> Similarity.annIvfServedQuery("pq"),
    "Similarity.annIvfServedQuery(ivf_ins)" -> Similarity.annIvfServedQuery("ivf_ins"))

  private def width: String = math.min(8, spark.sparkContext.defaultParallelism).toString

  /** Runs `body` and asserts the caller's conf map is the one taken before. */
  private def leavesConf(body: => Unit): Unit = {
    val before = spark.conf.getAll
    body
    assert(spark.conf.getAll == before, "the caller's session conf changed")
  }

  composedQueries.foreach { case (name, query) =>
    test(s"$name runs on an AQE-off, host-width clone and leaves the caller's conf") {
      leavesConf {
        val df = query(spark, sfDir)
        val s = df.sparkSession
        assert(s ne spark, "the result runs on the caller's session")
        assert(s.conf.get("spark.sql.adaptive.enabled") == "false")
        assert(s.conf.get("spark.sql.shuffle.partitions") == width)
        assert(df.collect().nonEmpty)
      }
    }
  }

  test("Dedup.dupClusters' distributed rounds leave the caller's conf") {
    val corpus = Tables.documents(spark, sfDir)
    leavesConf {
      assert(Dedup.dupClusters(corpus, Dedup.simhashPairs(corpus), localEdgeLimit = -1L)
        .collect().nonEmpty)
    }
  }

  /** `src/main` lines, as `path:line: text`, that `hit` selects by file name and text. */
  private def sourceHits(hit: (String, String) => Boolean): Seq[String] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} is not a directory")
    def files(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    for {
      f <- files(root)
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if hit(f.getName, line)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
  }

  test("only Sessions makes a session clone; only Sessions and Explain set a conf") {
    val hits = sourceHits { (file, line) =>
      (line.contains("newSession()") && file != "Sessions.scala") ||
        ((line.contains(".conf.set(") || line.contains(".conf.unset(")) &&
          !Set("Sessions.scala", "Explain.scala")(file))
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("only Tables names a driver table file, so every load goes through its schema memo") {
    // a string literal ending in `<table>.parquet` or `$<name>.parquet`
    val tableFile = ("\"[^\"]*(\\$\\{?\\w+\\}?|\\b(" + Tables.TpchTables.mkString("|") +
      "|events|documents|embeddings))\\.parquet\"").r
    val hits = sourceHits((file, line) => file != "Tables.scala" && tableFile.findFirstIn(line).isDefined)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("only IvfIndex names an index artifact, so every index read goes through open") {
    val artifact =
      "\"/(assign|centroids|codes|codebooks|perm|hw|proj|penalties|tombstones)\"".r
    val hits = sourceHits((file, line) =>
      file != "IvfIndex.scala" && artifact.findFirstIn(line).isDefined)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
