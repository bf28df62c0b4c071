package graft.analytics

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Sessions
import graft.analytics.Similarity._

/** A persisted IVF index, opened from its directory: the one owner of the
  * on-disk layout. An index is three parts ([[IvfIndex.Spec]]) — a
  * pre-transform, a coarse quantizer and a codec — and each part it has
  * is one parquet artifact under `path`:
  *  - `centroids` (c_id, ce) and `assign` (vec_id, list_id): the coarse
  *    quantizer and its inverted-list membership, always present;
  *  - `penalties` (c_id, pen): the balanced quantizer's load penalties;
  *  - `proj` (j, signs): the coarse-only signed projection;
  *  - `hw` (dim, w) and `perm` (slot, dim): the stored Householder
  *    reflection and subspace permutation the queries and arrivals
  *    replay before encoding;
  *  - `codes`: SQ8 (vec_id, mn, mx, q) or, with `codebooks` (m, j, cw),
  *    PQ (vec_id, c0..c{M-1});
  *  - `tombstones` (vec_id): deletes not yet compacted away.
  *
  * [[IvfIndex.open]] lists the directory once and derives every part
  * from the artifact names, so the face a caller picks can never skip a
  * stored transform. Model parameters load once per opened index, on
  * first use. Centroids never move after the build (train once, add
  * forever): [[insert]] encodes and assigns arrivals by the stored
  * model, [[delete]] tombstones, [[compact]] rewrites. An index mutated
  * through another handle must be opened again. */
final class IvfIndex private (spark: SparkSession, val path: String,
                              found: Set[String]) {
  import IvfIndex._
  import IvfIndex.Artifact._

  @volatile private var tombstoned = found(Tombstones)

  /** The artifacts the index holds now. */
  def parts: Set[String] = if (tombstoned) found + Tombstones else found - Tombstones

  private def read(art: String): DataFrame = spark.read.parquet(s"$path/$art")
  private def stored[T](art: String)(load: DataFrame => T): Option[T] =
    if (found(art)) Some(load(read(art))) else None

  lazy val centroids: Array[(Long, Array[Double])] =
    read(Centroids).orderBy("c_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
  lazy val penalties: Option[Map[Long, Long]] =
    stored(Penalties)(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  /** The signed projection, row j = output dim j's ±1 signs. */
  lazy val projection: Option[Seq[Seq[Long]]] =
    stored(Proj)(_.orderBy("j").collect().map(_.getSeq[Long](1)).toSeq)
  /** The Householder reflection as (w, den = Σw²). */
  private lazy val householder: Option[(Array[Long], Long)] = stored(Hw) { df =>
    val w = df.orderBy("dim").collect().map(_.getLong(1))
    (w, w.map(x => x * x).sum)
  }
  /** perm(slot) = source dim. */
  lazy val perm: Option[Array[Int]] = stored(Perm)(_.orderBy("slot").collect().map(_.getInt(1)))
  /** M × ks × dsub codewords. */
  lazy val codebooks: Option[Array[Array[Array[Double]]]] = stored(Codebooks) { df =>
    val rows = df.orderBy("m", "j").collect()
    val cb = Array.ofDim[Array[Double]](rows.map(_.getInt(0)).max + 1,
      rows.map(_.getInt(1)).max + 1)
    rows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    cb
  }

  private def coded: Boolean = found(Codes)

  /** A (vec_id, e) frame through the stored pre-transform chain:
    * the Householder reflection, then the permutation. */
  private def transformed(vecs: DataFrame): DataFrame = {
    val rotated = householder.fold(vecs) { case (w, den) => householderView(vecs, w, den) }
    perm.fold(rotated)(withOpqPerm(rotated, _))
  }

  /** The live membership: `assign` minus any tombstoned id. */
  def members: DataFrame =
    if (tombstoned) read(Assign).join(read(Tombstones), Seq("vec_id"), "left_anti")
    else read(Assign)

  /** Probe candidates (q_id, [qe,] n_id, [e,] extras…) of `queries`
    * (q_id, qe) over the `corpus` (vec_id, e, extras…) residents: the
    * stored centroids and membership, no assignment expression. */
  private[analytics] def candidates(corpus: DataFrame, queries: DataFrame, nProbe: Int,
                                    keepVectors: Boolean = true): DataFrame =
    ivfCandidatesOver(spark, corpus.join(members, "vec_id"), queries, centroids, nProbe,
      keepVectors)

  /** Top-k (q_id, n_id, rank, cos) for the (vec_id, e) `queries`. A
    * flat index stores no vectors, so it probes over `corpus`, the
    * (vec_id, e) frame it was built from; a coded index decodes its own
    * codes and ignores `corpus`. Queries pass through the stored
    * transform chain; a projected index probes by projected cosine and
    * re-ranks by exact full-dimension cosine; PQ scores by ADC. */
  def serve(queries: DataFrame, k: Int = 5, nProbe: Int = 4,
            corpus: Option[DataFrame] = None): DataFrame = {
    val vecs = queries.select(col("vec_id"), col("e"))
    def asQueries(f: DataFrame) = f.select(col("vec_id").as("q_id"), col("e").as("qe"))
    codebooks match {
      case Some(cb) =>
        val q = asQueries(transformed(vecs))
        pqAdcRank(spark, candidates(decoded(read(Codes), Some(cb)), q, nProbe,
          keepVectors = false), cb, q, k)
      case None =>
        val residents =
          if (coded) decoded(read(Codes), None)
          else corpus.getOrElse(throw new IllegalArgumentException(
            s"$path stores no vectors (flat codec): serve needs its corpus frame"))
        projection match {
          case Some(signs) =>
            projProbeRank(residents.join(members, "vec_id"),
              withProjectionSigns(vecs, signs)
                .select(col("vec_id").as("q_id"), col("e").as("qe"), col("ep").as("qep")),
              centroidFrame(spark, centroids), nProbe, k)
          case None => rankCandidates(candidates(residents, asQueries(vecs), nProbe), k)
        }
    }
  }

  /** Add (vec_id, e) vectors by the stored model: encode them (after the
    * stored transform chain) and append their codes, then assign the
    * decoded view by the stored centroid rule — penalized when the
    * index is balanced. Arrivals land exactly where a build-time encode
    * would have put them; the existing members are never read. */
  def insert(newVectors: DataFrame): Unit = {
    // the projected centroids live in projected space: assigning raw
    // arrivals against them would silently mis-assign
    require(projection.isEmpty,
      s"insert into $path: index carries a 'proj' transform artifact — " +
        "raw vectors must be projected with the stored matrix before assignment; " +
        "rebuild the projected index instead")
    val arrivals = newVectors.select(col("vec_id"), col("e"))
    val assignable =
      if (!coded) arrivals
      else {
        // two consumers (codes append + assignment): pin the small encode
        val codes = codebooks.fold(quantizeOf(arrivals))(pqCodes(transformed(arrivals), _))
          .localCheckpoint(false)
        codes.count()
        codes.write.mode("append").parquet(s"$path/$Codes")
        decoded(codes, codebooks)
      }
    writeAssign(assignable, centroids, penalties, path, "append")
  }

  /** Tombstone the (vec_id) `ids`: serving anti-joins them out until
    * [[compact]] drops them physically. Idempotent. */
  def delete(ids: DataFrame): Unit = {
    ids.select(col("vec_id")).write.mode("append").parquet(s"$path/$Tombstones")
    tombstoned = true
  }

  /** Rewrite the append-accumulated `codes` (clustered by vec_id) and
    * `assign` (by list_id) into `nFiles` files each, dropping replayed
    * duplicates and tombstoned ids, then clear the tombstones. Row sets
    * and serving are unchanged. Quiesce ingest first ([[compactArtifact]]). */
  def compact(nFiles: Int = 1): Unit = {
    val fs = fileSystem(spark, path)
    val tomb = if (tombstoned) Some(new Path(s"$path/$Tombstones")) else None
    if (coded) compactArtifact(fs, Codes, nFiles, "vec_id", tomb)
    compactArtifact(fs, Assign, nFiles, "list_id", tomb)
    tomb.foreach(fs.delete(_, true))
    tombstoned = false
  }

  /** Data files behind the membership artifact: every insert batch
    * appends its own, and scan planning slows with their count. */
  def assignFileCount: Int =
    fileSystem(spark, path).listStatus(new Path(s"$path/$Assign")).count { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** [[compact]] when [[assignFileCount]] exceeds `maxFiles` — the
    * trigger an ingest loop calls after each batch. The default is from
    * `ScaleProbe ivfingest` (docs/SCALING.md): serving slows measurably
    * by ~100 appended files. Returns whether it compacted. */
  def compactIfNeeded(maxFiles: Int = 64, nFiles: Int = 1): Boolean = {
    val over = assignFileCount > maxFiles
    if (over) compact(nFiles)
    over
  }

  /** One artifact's rewrite-and-swap: full-row dedup (an at-least-once
    * replay appends bit-identical rows), the tombstone anti-join, then
    * `nFiles` files clustered by `clusterCol` swapped in by two CHECKED
    * renames. A failed first rename aborts with the live dir untouched,
    * a failed second rename rolls the old dir back, a stale `<sub>_old`
    * from an interrupted compaction fails fast, and the swap re-lists
    * the directory and aborts if its file set moved (best effort — the
    * rule is "do not compact under live ingest"). IndexArtifactsSpec
    * pins the replay law for a flat and a PQ index: a re-inserted batch
    * leaves serving unchanged, and compaction restores a fresh build's
    * membership count. */
  private def compactArtifact(fs: FileSystem, sub: String, nFiles: Int, clusterCol: String,
                              tomb: Option[Path]): Unit = {
    val live = new Path(s"$path/$sub")
    val tmp = new Path(s"$path/${sub}_compact_tmp")
    val old = new Path(s"$path/${sub}_old")
    require(!fs.exists(old),
      s"stale $old from an interrupted compaction — resolve it (restore or delete) first")
    // snapshot of the artifact file set: the swap below re-checks it so
    // rows appended by a concurrent ingest micro-batch are never dropped
    def liveFiles(): Set[String] =
      fs.listStatus(live).map(_.getPath.getName).toSet
    val snapshotFiles = liveFiles()
    val base = spark.read.parquet(live.toString).dropDuplicates()
    val applied = tomb.fold(base)(t =>
      base.join(spark.read.parquet(t.toString), Seq("vec_id"), "left_anti"))
    applied
      .repartition(nFiles, col(clusterCol))
      .write.mode("overwrite").parquet(tmp.toString)
    if (liveFiles() != snapshotFiles) {
      fs.delete(tmp, true)
      sys.error(s"$sub files changed under compaction of $path " +
        "(live ingest?) — aborted; quiesce the ingest and retry")
    }
    if (!fs.rename(live, old)) {
      fs.delete(tmp, true)
      sys.error(s"compaction of $path aborted: rename($live, $old) failed; index untouched")
    }
    if (!fs.rename(tmp, live)) {
      // roll back so the index never loses the artifact dir
      if (!fs.rename(old, live))
        sys.error(s"compaction of $path failed AND rollback failed: " +
          s"$sub is at $old — restore it manually")
      fs.delete(tmp, true)
      sys.error(s"compaction of $path aborted: rename($tmp, $live) failed; index rolled back")
    }
    fs.delete(old, true)
    ()
  }
}

object IvfIndex {

  /** The artifact directory names under an index path. */
  private object Artifact {
    val Centroids = "centroids"
    val Assign = "assign"
    val Penalties = "penalties"
    val Proj = "proj"
    val Hw = "hw"
    val Perm = "perm"
    val Codebooks = "codebooks"
    val Codes = "codes"
    val Tombstones = "tombstones"
    val All = Set(Centroids, Assign, Penalties, Proj, Hw, Perm, Codebooks, Codes, Tombstones)
  }

  /** The pre-transform. `Perm` and `PcaCascade` rotate the vectors the
    * PQ codec encodes (and the queries it scores); `Proj` is coarse-only:
    * centroids and probes live in its 16-dim space, re-ranking stays
    * exact over the raw vectors. */
  sealed trait Transform
  object Transform {
    case object Identity extends Transform
    /** [[Similarity.opqPermutation]]: the subspace-balancing permutation. */
    case object Perm extends Transform
    /** [[Similarity.opqPcaView]]'s cascade: perm, or Householder then
      * perm, or nothing, whichever its gates engage. */
    case object PcaCascade extends Transform
    /** [[Similarity.rpSignMatrix]]`(64, 16)`, the signed JL projection. */
    case object Proj extends Transform
  }

  sealed trait Codec
  object Codec {
    case object Flat extends Codec
    case object Sq8 extends Codec
    case object Pq extends Codec
  }

  /** What to build. The coarse quantizer is `nLists` hash-seeded
    * centroids after `rounds` Lloyd rounds — size-penalized with
    * λ = `balance` (1e-4-cosine units) when set. */
  final case class Spec(transform: Transform = Transform.Identity, nLists: Int = 16,
                        rounds: Int = 0, balance: Option[Long] = None,
                        codec: Codec = Codec.Flat) {
    require(transform != Transform.Proj || codec == Codec.Flat,
      "proj is a coarse-only transform: it pairs with the flat codec")
    require(codec == Codec.Pq || transform == Transform.Identity || transform == Transform.Proj,
      s"$transform balances PQ subspaces: it pairs with the pq codec")
  }

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Open the index at `path`: one directory listing decides its parts. */
  def open(spark: SparkSession, path: String): IvfIndex = {
    val names =
      try fileSystem(spark, path).listStatus(new Path(path)).map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty[String] }
    require(names(Artifact.Centroids) && names(Artifact.Assign),
      s"$path is not an IVF index: it holds no '${Artifact.Centroids}' and " +
        s"'${Artifact.Assign}' artifacts")
    new IvfIndex(spark, path, names.intersect(Artifact.All))
  }

  /** Build the index over the (vec_id, e) corpus `emb` into `path`: fit
    * and store the pre-transform, encode and store the codes, then fit
    * the coarse quantizer over the DECODED view (the index derives
    * everything from what it stores) and write its centroids and
    * membership. Deterministic in (emb, spec): a rebuild reproduces
    * every artifact bit for bit. */
  def build(spark: SparkSession, emb: DataFrame, path: String, spec: Spec): Unit = {
    def save(df: DataFrame, art: String): Unit = df.write.mode("overwrite").parquet(s"$path/$art")
    def table(ddl: String, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType.fromDDL(ddl))
    def savePerm(perm: Array[Int]): Unit =
      save(table("slot INT NOT NULL, dim INT NOT NULL",
        perm.toSeq.zipWithIndex.map { case (d, slot) => Row(slot, d) }), Artifact.Perm)
    val view = spec.transform match {
      case Transform.Perm =>
        val perm = opqPermutation(emb)
        savePerm(perm)
        withOpqPerm(emb, perm)
      case Transform.PcaCascade =>
        val (view, hw, perm) = opqPcaFit(emb)
        hw.foreach { case (w, _) =>
          save(table("dim INT NOT NULL, w BIGINT NOT NULL",
            w.toSeq.zipWithIndex.map { case (x, j) => Row(j, x) }), Artifact.Hw)
        }
        perm.foreach(savePerm)
        view
      case _ => emb
    }
    val decodedView = spec.codec match {
      case Codec.Flat => view
      case Codec.Sq8 =>
        save(quantizeOf(view), Artifact.Codes)
        decoded(spark.read.parquet(s"$path/${Artifact.Codes}"), None)
      case Codec.Pq =>
        val cb = pqCodebooks(view)
        save(table("m INT NOT NULL, j INT NOT NULL, cw ARRAY<DOUBLE> NOT NULL",
          for (mi <- cb.indices; j <- cb(mi).indices) yield Row(mi, j, cb(mi)(j).toSeq)),
          Artifact.Codebooks)
        save(pqCodes(view, cb), Artifact.Codes)
        decoded(spark.read.parquet(s"$path/${Artifact.Codes}"), Some(cb))
    }
    val coarse =
      if (spec.transform != Transform.Proj) decodedView
      else {
        val signs = rpSignMatrix(64, 16)
        save(table("j BIGINT NOT NULL, signs ARRAY<BIGINT>",
          signs.zipWithIndex.map { case (sj, j) => Row(j.toLong, sj) }), Artifact.Proj)
        withProjectionSigns(decodedView, signs).select(col("vec_id"), col("ep").as("e"))
      }
    val seeds = hashCentroids(coarse, spec.nLists)
    val (cents, pen) = spec.balance match {
      case Some(lambdaI) =>
        val (c, p) = ivfLloydRefineBalanced(coarse, seeds, spec.rounds, lambdaI)
        save(table("c_id BIGINT NOT NULL, pen BIGINT NOT NULL",
          c.toSeq.map { case (cid, _) => Row(cid, p.getOrElse(cid, 0L)) }), Artifact.Penalties)
        (c, Some(p))
      case None => (ivfLloydRefine(coarse, seeds, spec.rounds), None)
    }
    save(centroidFrame(spark, cents), Artifact.Centroids)
    writeAssign(coarse, cents, pen, path, "overwrite")
  }

  /** The (vec_id, e, …) view a codes frame decodes to: PQ reconstruction
    * under `codebooks`, else the SQ8 per-vector decode. */
  private def decoded(codes: DataFrame,
                      codebooks: Option[Array[Array[Array[Double]]]]): DataFrame =
    codebooks.fold(dequantizedFrom(codes))(cb => codes.withColumn("e", pqReconCol(cb)))

  /** The one membership writer: (vec_id, list_id) of the (vec_id, e)
    * `vecs` under the nearest-centroid rule, penalized when `pen` is set. */
  private def writeAssign(vecs: DataFrame, cents: Array[(Long, Array[Double])],
                          pen: Option[Map[Long, Long]], path: String, mode: String): Unit = {
    val listId = pen.fold(listIdColFor(cents)(col("e")))(listIdColPenalized(cents, _)(col("e")))
    vecs.select(col("vec_id"), listId.as("list_id"))
      .write.mode(mode).parquet(s"$path/${Artifact.Assign}")
  }

  // -- the session's serving indexes --

  /** How a serving index reaches its state. The late tenth is the
    * vectors whose `md5Long60(vec_id)` reaches
    * [[Similarity.InsertHashThreshold]]; the hash seeds are the
    * md5-smallest ids, so they are never late. */
  sealed trait Lifecycle
  object Lifecycle {
    /** Built over the whole corpus. */
    case object Fresh extends Lifecycle
    /** Built over the early ~90%, the late tenth inserted by the stored
      * model, then compacted. */
    case object Insert extends Lifecycle
    /** Built over the whole corpus, the late tenth deleted; the
      * tombstones stay live. */
    case object Delete extends Lifecycle
  }

  /** The registered serving indexes, by name: the `knn_ann_ivf_*_served`
    * queries, the `knn_eval` rungs and the serving compositions (hybrid
    * RRF, MMR, negative mining and `q_ivf_list_stats` on "ivf") read
    * these, and [[ensureServingArtifacts]] builds them all. */
  val Registered: Seq[(String, Spec, Lifecycle)] = {
    import Codec._, Lifecycle._, Transform._
    Seq(
      ("ivf", Spec(), Fresh),
      ("pq", Spec(codec = Pq), Fresh),
      ("opq", Spec(Perm, codec = Pq), Fresh),
      ("opq_pca", Spec(PcaCascade, codec = Pq), Fresh),
      ("sq8", Spec(codec = Sq8), Fresh),
      ("proj", Spec(Proj), Fresh),
      ("ivf_ins", Spec(), Insert),
      ("pq_ins", Spec(codec = Pq), Insert),
      ("sq8_ins", Spec(codec = Sq8), Insert),
      ("opq_ins", Spec(Perm, codec = Pq), Insert),
      ("ivf_del", Spec(), Delete))
  }

  /** Build-once registry for serving indexes: the first use in the JVM
    * builds into a temp directory and every later use opens the SAME
    * files. Keyed by (lifecycle, spec, data dir); the build is
    * deterministic in the key, so a rebuild in a fresh JVM reproduces
    * the index bit for bit (IndexArtifactsSpec pins it).
    *
    * The key carries NO data fingerprint: it assumes the parquet under
    * `dir` is immutable for the JVM's lifetime (true for the test
    * fixtures and for any layout where a corpus generation gets a fresh
    * path). Regenerating data in place under a cached dir would serve a
    * stale index; use a new dir per data generation. A shutdown hook
    * removes the temp dirs. */
  private object ArtifactCache {
    private val paths = new java.util.concurrent.ConcurrentHashMap[String, String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      paths.values.forEach { p =>
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(); ()
        }
        rm(new java.io.File(p))
      }))
    def path(key: String)(build: String => Unit): String =
      paths.computeIfAbsent(key, { _ =>
        val p = java.nio.file.Files.createTempDirectory("graft_idx_").toString
        build(p); p
      })
  }

  private def servedPath(spark: SparkSession, dir: String, spec: Spec,
                         lifecycle: Lifecycle): String =
    ArtifactCache.path(s"$lifecycle:$spec:$dir") { p =>
      val emb = embeddingsD(spark, dir)
      val h = graft.functions.Hashes.md5Long60(col("vec_id").cast("string"))
      val late = emb.where(h >= lit(InsertHashThreshold))
      lifecycle match {
        case Lifecycle.Fresh => build(spark, emb, p, spec)
        case Lifecycle.Insert =>
          build(spark, emb.where(h < lit(InsertHashThreshold)), p, spec)
          val idx = open(spark, p)
          idx.insert(late)
          idx.compact()
        case Lifecycle.Delete =>
          build(spark, emb, p, spec)
          open(spark, p).delete(late.select("vec_id"))
      }
    }

  /** The session's index for `spec` over `dir`'s embeddings at
    * `lifecycle`, built on first use and opened on `spark`. */
  def served(spark: SparkSession, dir: String, spec: Spec,
             lifecycle: Lifecycle = Lifecycle.Fresh): IvfIndex =
    open(spark, servedPath(spark, dir, spec, lifecycle))

  /** The registered index `name` ([[Registered]]). */
  def served(spark: SparkSession, dir: String, name: String): IvfIndex =
    Registered.collectFirst { case (`name`, spec, lc) => served(spark, dir, spec, lc) }
      .getOrElse(throw new IllegalArgumentException(s"no registered IVF index '$name'"))

  /** Build every registered index, as the served queries would on first
    * use. Bench and Profile call this untimed, so a served measurement
    * is the serving cost alone: the build cost is what the inline twins
    * (knn_ann_ivf_pq etc.) pay in-plan, and a deployment pays it once. */
  def ensureServingArtifacts(spark: SparkSession, dir: String): Unit = {
    val s = Sessions.composed(spark)
    Registered.foreach { case (_, spec, lc) => servedPath(s, dir, spec, lc) }
  }
}
