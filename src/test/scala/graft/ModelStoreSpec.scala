package graft

/** Pins the ModelStore commit semantics the artifact families rely on:
  * empty frames are never committed (read() would reject them anyway),
  * a stale/corrupt directory squatting a slot is healed by the next
  * write instead of poisoning the fingerprint forever, a lost race
  * against a VALID artifact keeps the winner, and partitioned
  * (singleFile = false) writes round-trip exactly. The collected
  * (driver-local) read path treats an empty, unreadable or rejected
  * table as a miss: one train, the squatter replaced, the next call
  * deployed. */
class ModelStoreSpec extends SparkSpecBase {

  private def freshName = s"msspec_${System.nanoTime()}"

  /** A source dir holding one table file for the fingerprint to hash. */
  private def sourceDir(): String = {
    val dir = new java.io.File(scratch("msspec"))
    assert(dir.mkdirs())
    val w = new java.io.PrintWriter(new java.io.File(dir, "t.parquet"))
    w.println("corpus"); w.close()
    dir.getPath
  }

  /** A collected (a, b) artifact over `dir`: the rows as driver-side
    * pairs. Returns the pairs and the trains the call counted. */
  private def collectedPairs(dir: String): (Seq[(Long, Long)], Long) = {
    import spark.implicits._
    val t0 = ModelTelemetry.trains.get()
    val got = ModelStore.collected[Seq[(Long, Long)]](spark,
        ModelStore.Source(dir, "t.parquet", "msspec1"),
        ModelStore.Table("msspec", Seq("a", "b")),
        rows => Some(rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))),
        _.toDF("a", "b")) {
      Seq((1L, 2L), (3L, 4L))
    }
    (got.sortBy(_._1), ModelTelemetry.trains.get() - t0)
  }

  /** Squat `dir`'s msspec slot with `fill`, then check the miss path:
    * one train, the squatter replaced, the next call deploys. */
  private def assertCollectedMiss(fill: java.io.File => Unit): Unit = {
    val dir = sourceDir()
    val fp = ModelStore.fingerprint(dir, "t.parquet", "msspec1").get
    val slot = new java.io.File(ModelStore.Root, s"msspec_$fp")
    fill(slot)
    assert(slot.isDirectory, "the squatter must occupy the slot")
    assert(collectedPairs(dir) == ((Seq((1L, 2L), (3L, 4L)), 1L)),
      "a squatted slot must read as a miss: build once, count one train")
    assert(spark.read.parquet(slot.getPath).count() == 2L,
      "the commit must replace the squatter")
    assert(collectedPairs(dir) == ((Seq((1L, 2L), (3L, 4L)), 0L)),
      "the next call must deploy without training")
  }

  test("collected artifact: a table with zero rows is a miss") {
    import spark.implicits._
    assertCollectedMiss(slot =>
      Seq.empty[(Long, Long)].toDF("a", "b").write.parquet(slot.getPath))
  }

  test("collected artifact: an unreadable file is a miss") {
    assertCollectedMiss { slot =>
      assert(slot.mkdirs())
      val w = new java.io.PrintWriter(new java.io.File(slot, "part-0.parquet"))
      w.println("junk"); w.close()
    }
  }

  test("collected artifact: a BPE merge table with the wrong round count is a miss") {
    import spark.implicits._
    val dir = scratch("msspec_bpe")
    Seq((1L, "en", "aaaa bb cc dd aabb aaaa cc"))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val rounds = graft.operators.TextAnalysis.BpeRounds
    val fp = ModelStore.fingerprint(dir, "documents.parquet", rounds.toString).get
    val slot = new java.io.File(ModelStore.Root, s"bpe_$fp")
    // a readable, non-empty table one round short of the model
    Seq((1L, "a", "a", 9L)).toDF("round", "bl", "br", "n_pair")
      .write.parquet(slot.getPath)
    val docs = graft.sources.Tables.documents(spark, dir)
    val t0 = ModelTelemetry.trains.get()
    val merges = graft.operators.TextAnalysis.bpeMergesFor(spark, dir, docs)
    assert(ModelTelemetry.trains.get() == t0 + 1, "a short merge table must retrain once")
    assert(merges.length == rounds)
    assert(spark.read.parquet(slot.getPath).count() == rounds.toLong,
      "the commit must replace the short table")
    assert(graft.operators.TextAnalysis.bpeMergesFor(spark, dir, docs) == merges)
    assert(ModelTelemetry.trains.get() == t0 + 1, "the next call must deploy")
  }

  test("empty frame: write is skipped, slot stays vacant") {
    import spark.implicits._
    val name = freshName
    ModelStore.write(name, Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(!new java.io.File(ModelStore.Root, name).exists,
      "an empty artifact must not be committed")
    assert(ModelStore.read(spark, name, Seq("a", "b")).isEmpty)
  }

  test("corrupt squatter: an unreadable dir is healed by the next write") {
    import spark.implicits._
    val name = freshName
    // a directory read() rejects (no parquet inside) squats the slot
    val fin = new java.io.File(ModelStore.Root, name)
    assert(fin.mkdirs())
    val junk = new java.io.File(fin, "not_parquet.txt")
    val w = new java.io.PrintWriter(junk); w.println("junk"); w.close()
    assert(ModelStore.read(spark, name, Seq("a", "b")).isEmpty,
      "the squatter must read as a miss")
    ModelStore.write(name, Seq((1L, 2L), (3L, 4L)).toDF("a", "b"))
    val back = ModelStore.read(spark, name, Seq("a", "b"))
    assert(back.isDefined, "the write must replace the corrupt dir")
    assert(back.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 2L), (3L, 4L)))
    assert(!junk.exists, "the junk file must be gone with the healed dir")
  }

  test("valid incumbent: a second write keeps a readable artifact in place") {
    import spark.implicits._
    val name = freshName
    ModelStore.write(name, Seq((1L, 10L)).toDF("a", "b"))
    val mtime = new java.io.File(ModelStore.Root, name).lastModified()
    // deterministic-computation contract: a rival write carries the SAME
    // rows; the incumbent must survive untouched (rename fails, rival
    // validates it, drops its tmp)
    ModelStore.write(name, Seq((1L, 10L)).toDF("a", "b"))
    assert(new java.io.File(ModelStore.Root, name).lastModified() == mtime,
      "a valid incumbent must not be replaced")
    assert(ModelStore.read(spark, name, Seq("a", "b")).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 10L)))
    assert(!new java.io.File(ModelStore.Root).listFiles
      .exists(_.getName.startsWith(s"tmp_$name")),
      "the losing tmp dir must be cleaned up")
  }

  test("partitioned write: multiple part files, exact round-trip") {
    import spark.implicits._
    val name = freshName
    val df = (1L to 1000L).map(i => (i, i * 7L)).toDF("a", "b").repartition(4)
    ModelStore.write(name, df, singleFile = false)
    val parts = new java.io.File(ModelStore.Root, name).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(parts > 1, s"corpus-proportional artifacts must not be one task ($parts)")
    val back = ModelStore.read(spark, name, Seq("a", "b")).get
    assert(back.count() == 1000L)
    assert(back.agg(org.apache.spark.sql.functions.sum("b")).head.getLong(0)
      == (1L to 1000L).map(_ * 7L).sum)
  }
}
