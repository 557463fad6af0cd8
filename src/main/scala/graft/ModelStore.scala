package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal

/** Shared plumbing of the train-once/deploy-many model artifacts (BPE
  * merges, k-means codebooks, NN-Descent edges, the LPA chain, the
  * substring witness list, the co-activity graph): parquet tables under
  * the model root keyed by a filesystem fingerprint (path + size + mtime)
  * of the corpus file they were derived from. An artifact caches a
  * DETERMINISTIC computation — deployed results must be bit-identical to
  * the fold, and any read anomaly or fingerprint mismatch falls back to
  * the build and rewrites. Writes commit via directory rename; a lost
  * race leaves the winner's equivalent artifact in place. */
object ModelStore {
  /** Artifact root. Default is driver-local /tmp (the local[32] test
    * posture); on a real cluster set SPARK_GRAFT_MODEL_DIR to a path on
    * a shared filesystem every node mounts — fingerprints hash the
    * CORPUS table's directory listing, so they are stable across nodes
    * as long as the corpus itself is on shared storage. */
  val Root: String =
    sys.env.getOrElse("SPARK_GRAFT_MODEL_DIR", "/tmp/graft_models")

  /** md5 of (dir, per-file name:size:mtime, tag); None if the table file
    * is missing or unreadable — callers then run the fold uncached. */
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

  /** Distributed parquet read of an artifact (never a driver collect —
    * artifacts are model-sized, but the read path must scale anyway). */
  def read(spark: SparkSession, name: String, cols: Seq[String]): Option[DataFrame] =
    try {
      val d = new java.io.File(Root, name)
      if (!d.isDirectory) None
      else {
        val df = spark.read.parquet(d.getPath).select(cols.map(col): _*)
        if (df.isEmpty) None else Some(df)
      }
    } catch { case NonFatal(_) => None }

  /** Commit an artifact. `singleFile = true` (default) is for model-sized
    * tables (codebooks, merge lists — KBs); pass `false` for
    * corpus-proportional frames (NN-Descent edges O(n*K), substring
    * witnesses O(docs*windows), co-activity pairs) so the write keeps the
    * frame's partitioning instead of serializing it through one task. */
  def write(name: String, df: DataFrame, singleFile: Boolean = true): Unit =
    try {
      // read() treats an empty artifact as a miss, so committing one could
      // never be deployed — a legitimately-empty fold stays uncached.
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
          // slot forever (read() misses, so every query retrains AND
          // writes a throwaway tmp). Re-validate through read(); replace
          // the dir iff a deploy would reject it.
          if (read(df.sparkSession, name, df.columns.toSeq).isEmpty) {
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
