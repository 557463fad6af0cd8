package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal

/** The train-once/deploy-many model store, and the only code that knows
  * the artifact contract. Every derived model goes through it: the BPE
  * merges, the k-means codebooks, the NN-Descent and layered kNN graphs,
  * the LPA chain, the substring witness list, the co-activity graph and
  * the co-purchase pair counts. A call site passes its [[Source]], its
  * [[Table]]s, its build and (for collected artifacts) its decode.
  *
  *  - Name: each table is a parquet directory `<family>_<fingerprint>`
  *    under [[Root]]. The fingerprint is an md5 over the source table's
  *    file listing (dir + per-file name, size and mtime; no scan) and a
  *    tag naming the computation. A source of several tables joins the
  *    first 16 hex chars of each table's fingerprint.
  *  - Deploy or build: fingerprint, read, and on a miss build, commit
  *    and count. A miss is a missing directory, an empty table, a read
  *    that throws, or a decode that rejects the rows; every such read
  *    anomaly falls back to the build, which rewrites the slot. The
  *    `NonFatal` catches here are the program's only model fallbacks.
  *    With no fingerprint (the source table is missing or unreadable)
  *    the build runs uncached.
  *  - Counting: every deploy-or-build call whose build runs adds exactly
  *    one to [[ModelTelemetry.trains]], however many tables it commits
  *    (the LPA chain commits two and counts one). A build that calls
  *    another deploy-or-build adds that call's count to its own: a cold
  *    nndl_ (over nnd_) or coactedges_ (over coactpairs_) counts two.
  *  - Shapes: [[frames]] deploys distributed frames, one parquet scan
  *    each (never a driver collect; corpus-proportional artifacts must
  *    scale). [[collected]] deploys model-sized tables (codebooks, merge
  *    lists) with one collect; the caller decodes the rows into local
  *    frames or literals with the build's exact schema.
  *  - An artifact caches a DETERMINISTIC computation: a deployed result
  *    is bit-identical to the build. Commits go through a unique tmp dir
  *    and a rename, so readers see a whole artifact or none; a lost race
  *    keeps the winner's equivalent artifact, and a squatter that a
  *    deploy would reject is replaced. */
object ModelStore {
  /** Artifact root. Default is driver-local /tmp (the local[32] test
    * posture); on a real cluster set SPARK_GRAFT_MODEL_DIR to a path on
    * a shared filesystem every node mounts — fingerprints hash the
    * CORPUS table's directory listing, so they are stable across nodes
    * as long as the corpus itself is on shared storage. */
  val Root: String =
    sys.env.getOrElse("SPARK_GRAFT_MODEL_DIR", "/tmp/graft_models")

  /** What an artifact is derived from: `tables` under `dir`, and a `tag`
    * naming the computation (change it when the computation changes). */
  final case class Source(dir: String, tables: Seq[String], tag: String)
  object Source {
    def apply(dir: String, table: String, tag: String): Source = Source(dir, Seq(table), tag)
  }

  /** One committed table of an artifact: `cols` is what a deploy reads
    * and a commit writes, in order, with `casts` pinning stored types.
    * `singleFile` (default) coalesces model-sized tables (codebooks,
    * merge lists — KBs) to one file; corpus-proportional frames (edge
    * lists, witnesses, pairs) pass false so the commit keeps the
    * frame's partitioning instead of serializing it through one task. */
  final case class Table(family: String, cols: Seq[String], singleFile: Boolean = true,
      casts: Map[String, String] = Map.empty)

  /** Deploy every table (all must hit; each passed through `warm`, the
    * site's own localCheckpoint when it has one), else run `build` — one
    * frame per table, in order — and commit each. Returns the deployed
    * or built frames. */
  def frames(spark: SparkSession, src: Source, tables: Seq[Table],
      warm: DataFrame => DataFrame = identity)(build: => Seq[DataFrame]): Seq[DataFrame] =
    deployOrBuild(src) { fp =>
      tables.foldLeft(Option(Seq.empty[DataFrame])) { (hits, t) =>
        hits.flatMap(ds => read(spark, name(t, fp), t.cols).map(ds :+ _))
      }.map(_.map(warm))
    }(build) { (fp, ds) =>
      tables.zip(ds).foreach { case (t, d) => write(name(t, fp), project(t, d), t.singleFile) }
    }

  /** [[frames]] for an artifact of one table. */
  def frame(spark: SparkSession, src: Source, table: Table,
      warm: DataFrame => DataFrame = identity)(build: => DataFrame): DataFrame =
    frames(spark, src, Seq(table), warm)(Seq(build)).head

  /** Deploy a model-sized table with one collect, `decode`d into the
    * build's shape (None rejects the rows: a miss), else run `build` and
    * commit `stored` of its result. */
  def collected[A](spark: SparkSession, src: Source, table: Table,
      decode: Array[Row] => Option[A], stored: A => DataFrame)(build: => A): A = {
    def load(fp: String): Option[A] =
      try {
        val d = new java.io.File(Root, name(table, fp))
        if (!d.isDirectory) None
        else {
          val rows = spark.read.parquet(d.getPath).select(table.cols.map(col): _*).collect()
          if (rows.isEmpty) None else decode(rows)
        }
      } catch { case NonFatal(_) => None }
    deployOrBuild(src)(load)(build) { (fp, a) =>
      put(name(table, fp), project(table, stored(a)), table.singleFile, load(fp).isDefined)
    }
  }

  private def deployOrBuild[A](src: Source)(deploy: String => Option[A])(build: => A)(
      commitAll: (String, A) => Unit): A = {
    val fp = key(src)
    fp.flatMap(deploy).getOrElse {
      ModelTelemetry.trains.incrementAndGet()
      val built = build
      fp.foreach(commitAll(_, built))
      built
    }
  }

  private def key(src: Source): Option[String] = src.tables match {
    case Seq(t) => fingerprint(src.dir, t, src.tag)
    case ts =>
      val fps = ts.map(fingerprint(src.dir, _, src.tag))
      if (fps.forall(_.isDefined)) Some(fps.map(_.get.substring(0, 16)).mkString) else None
  }

  private def name(t: Table, fp: String): String = s"${t.family}_$fp"

  /** The committed shape of `df`: `t.cols` in order, with `t.casts`. */
  private def project(t: Table, df: DataFrame): DataFrame =
    df.select(t.cols.map(c => t.casts.get(c).fold(col(c))(ty => col(c).cast(ty).as(c))): _*)

  /** md5 of (dir, per-file name:size:mtime, tag); None if the table file
    * is missing or unreadable. */
  def fingerprint(dir: String, table: String, tag: String): Option[String] =
    try {
      val f = new java.io.File(dir, table)
      if (!f.exists) None
      else {
        val files = if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName) else Seq(f)
        val desc = files.map(x => s"${x.getName}:${x.length}:${x.lastModified}").mkString("|")
        val md = java.security.MessageDigest.getInstance("MD5")
        Some(md.digest(s"$dir|$desc|$tag".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
      }
    } catch { case NonFatal(_) => None }

  /** Distributed parquet read of an artifact; None on any miss. */
  private[graft] def read(spark: SparkSession, name: String, cols: Seq[String]): Option[DataFrame] =
    try {
      val d = new java.io.File(Root, name)
      if (!d.isDirectory) None
      else {
        val df = spark.read.parquet(d.getPath).select(cols.map(col): _*)
        if (df.isEmpty) None else Some(df)
      }
    } catch { case NonFatal(_) => None }

  /** Commit `df` as artifact `name`; an incumbent is kept iff `read`
    * deploys it. */
  private[graft] def write(name: String, df: DataFrame, singleFile: Boolean = true): Unit =
    put(name, df, singleFile, read(df.sparkSession, name, df.columns.toSeq).isDefined)

  private def put(name: String, df: DataFrame, singleFile: Boolean,
      deployable: => Boolean): Unit =
    try {
      // an empty table reads as a miss, so committing one could never be
      // deployed — a legitimately-empty fold stays uncached.
      if (!df.isEmpty) {
        val root = new java.io.File(Root)
        root.mkdirs()
        val tmp = new java.io.File(root, s"tmp_${name}_${System.nanoTime}")
        val out = if (singleFile) df.coalesce(1) else df
        out.write.mode("overwrite").parquet(tmp.getPath)
        val fin = new java.io.File(root, name)
        if (!tmp.renameTo(fin)) {
          // fin already exists. Usually a concurrent writer's equivalent
          // artifact — but a stale/corrupt dir would otherwise squat the
          // slot forever (every deploy misses, so every query retrains
          // AND writes a throwaway tmp). Replace the dir iff a deploy
          // would reject it.
          if (!deployable) {
            rm(fin)
            if (!tmp.renameTo(fin)) rm(tmp) // raced the healer: keep winner
          } else rm(tmp)
        }
      }
    } catch { case NonFatal(_) => () }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }
}
