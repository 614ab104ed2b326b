package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ArrowIpc

/** Arrow IPC stream round-trip specs — the torch-DataLoader interchange
  * closure. Cross-language compatibility was verified at development time
  * with `pyarrow.ipc.open_stream` on a JVM-written stream (exact values,
  * schema, and batch boundaries); these specs pin the JVM round-trip and
  * the type surface.
  */
class ArrowIpcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  test("DataLoader-shaped frame round-trips: ids, text, embedding, label, mask") {
    import spark.implicits._
    val df = Seq(
      (1L, "doc one", Seq(0.1f, 0.2f, 0.3f), 0, true, Array[Byte](1, 2)),
      (2L, "emoji 😀", Seq(-1.5f, 0f, 2.25f), 1, false, Array.emptyByteArray),
      (3L, null.asInstanceOf[String], null.asInstanceOf[Seq[Float]], 2, true, null)
    ).toDF("id", "text", "emb", "label", "ok", "payload")
    val out = Files.createTempDirectory("arrow").resolve("feed.arrow").toString
    ArrowIpc.writeStream(df, out, batchRows = 2) // forces a multi-batch stream
    val back = ArrowIpc.readStream(spark, out).orderBy("id")
    assert(back.schema.map(f => (f.name, f.dataType.typeName)).toSeq ==
      df.schema.map(f => (f.name, f.dataType.typeName)).toSeq)
    val rows = back.collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "doc one")
    assert(rows(0).getSeq[Float](2) == Seq(0.1f, 0.2f, 0.3f))
    assert(rows(1).getString(1) == "emoji 😀" && !rows(1).getBoolean(4))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2) && rows(2).isNullAt(5))
    assert(rows(1).getAs[Array[Byte]](5).isEmpty)
  }

  test("double/long embeddings and empty frame") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.5, 2.5), Seq(10L, 20L))).toDF("id", "d", "l")
    val out = Files.createTempDirectory("arrow").resolve("t.arrow").toString
    ArrowIpc.writeStream(df, out)
    val back = ArrowIpc.readStream(spark, out)
    assert(back.collect().head.getSeq[Double](1) == Seq(1.5, 2.5))
    assert(back.collect().head.getSeq[Long](2) == Seq(10L, 20L))

    val empty = df.filter("id < 0")
    val out2 = Files.createTempDirectory("arrow").resolve("e.arrow").toString
    ArrowIpc.writeStream(empty, out2)
    val back2 = ArrowIpc.readStream(spark, out2)
    assert(back2.count() == 0 && back2.columns.toSeq == Seq("id", "d", "l"))
  }

  test("sharded sink: K files, complement property, determinism, empty shards") {
    import spark.implicits._
    val df = (1L to 97L).map(i => (i, s"doc $i", Seq(i * 0.5f, -i * 0.25f)))
      .toDF("id", "text", "emb")
      .repartition(7) // deliberately unrelated to the shard count
    val dir = Files.createTempDirectory("arrowsh").toString
    val paths = ArrowIpc.writeStreamSharded(df, dir, numShards = 4, shardBy = Seq("id"))
    // paths come back fully qualified (file:-scheme) since the sink speaks
    // Hadoop FileSystem — parse as URIs to check the bytes landed
    assert(paths.size == 4 && paths.forall(p => new java.io.File(new java.net.URI(p)).isFile))
    // task-commit protocol left no .inprogress temps: exactly K files
    assert(new java.io.File(dir).list().sorted.toSeq ==
      (0 until 4).map(i => f"shard-$i%05d.arrows"))
    // complement: shards are disjoint and union back to the full frame
    val shards = paths.map(p => ArrowIpc.readStream(spark, p))
    val perShard = shards.map(_.select("id").as[Long].collect().toSet)
    assert(perShard.map(_.size).sum == 97)
    assert(perShard.reduce(_ union _) == (1L to 97L).toSet)
    perShard.combinations(2).foreach { case Seq(a, b) => assert((a intersect b).isEmpty) }
    // non-key columns travel intact
    val s0 = shards.head.orderBy("id").collect()
    assert(s0.forall(r => r.getString(1) == s"doc ${r.getLong(0)}"))
    assert(s0.forall(r => r.getSeq[Float](2) == Seq(r.getLong(0) * 0.5f, -r.getLong(0) * 0.25f)))
    // deterministic assignment: a second write (different partitioning)
    // produces the same shard membership
    val dir2 = Files.createTempDirectory("arrowsh2").toString
    val paths2 = ArrowIpc.writeStreamSharded(df.repartition(3), dir2, 4, Seq("id"))
    val perShard2 = paths2.map(p =>
      ArrowIpc.readStream(spark, p).select("id").as[Long].collect().toSet)
    assert(perShard == perShard2)
    // empty shards still write a valid schema-bearing zero-batch stream
    val one = Seq((1L, "x", Seq(1f))).toDF("id", "text", "emb")
    val dir3 = Files.createTempDirectory("arrowsh3").toString
    val paths3 = ArrowIpc.writeStreamSharded(one, dir3, 3, Seq("id"))
    val counts = paths3.map(p => ArrowIpc.readStream(spark, p))
    assert(counts.map(_.count()).sum == 1)
    assert(counts.forall(_.columns.toSeq == Seq("id", "text", "emb")))
    // guards: unknown shard column, empty shardBy
    intercept[IllegalArgumentException](
      ArrowIpc.writeStreamSharded(one, dir3, 2, Seq("nope")))
    intercept[IllegalArgumentException](
      ArrowIpc.writeStreamSharded(one, dir3, 2, Seq.empty))
  }

  test("sharded sink writes through Hadoop FileSystem: file:-scheme URI round-trips") {
    // the cluster-storage path (r15 verdict item): shards go through
    // FileSystem.create on executors, so an explicit file:-scheme URI —
    // resolved by the Hadoop API, not java.io.File — must work end-to-end;
    // hdfs:// and s3a:// differ only in the FileSystem impl behind the
    // same calls
    import spark.implicits._
    val df = (1L to 23L).map(i => (i, s"d$i")).toDF("id", "text")
    val dir = "file://" + Files.createTempDirectory("arrowfs").toString
    val paths = ArrowIpc.writeStreamSharded(df, dir, numShards = 3, shardBy = Seq("id"))
    assert(paths.size == 3 && paths.forall(_.startsWith("file:/")))
    val ids = paths.map(p => ArrowIpc.readStream(spark, p).select("id").as[Long].collect().toSet)
    assert(ids.reduce(_ union _) == (1L to 23L).toSet)
    assert(ids.map(_.size).sum == 23)
    // same content hash law as a scheme-less local write: membership matches
    val dirPlain = Files.createTempDirectory("arrowfs2").toString
    val plain = ArrowIpc.writeStreamSharded(df, dirPlain, 3, Seq("id"))
      .map(p => ArrowIpc.readStream(spark, p).select("id").as[Long].collect().toSet)
    assert(ids == plain)
  }

  test("sharded source: one task per shard, round-trips the sharded sink, refuses mixed schemas") {
    import spark.implicits._
    val df = (1L to 61L).map(i => (i, s"t$i", i * 0.5)).toDF("id", "text", "score")
    val dir = Files.createTempDirectory("arrowrs").toString
    ArrowIpc.writeStreamSharded(df, dir, numShards = 5, shardBy = Seq("id"))
    val back = ArrowIpc.readStreamSharded(spark, dir)
    // one partition per shard — the distributed-read contract
    assert(back.rdd.getNumPartitions == 5)
    assert(back.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
    assert(back.select("id").as[Long].collect().toSet == (1L to 61L).toSet)
    assert(back.filter($"text" =!= concat(lit("t"), $"id".cast("string"))).count() == 0)
    // a shard with a DIFFERENT schema refuses loudly, naming the file
    val dir2 = Files.createTempDirectory("arrowrs2").toString
    ArrowIpc.writeStreamSharded(df.select("id", "text"), dir2, 5, Seq("id"))
    Files.copy(java.nio.file.Paths.get(dir2, "shard-00003.arrows"),
      java.nio.file.Paths.get(dir, "shard-00003.arrows"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val e = intercept[org.apache.spark.SparkException](
      ArrowIpc.readStreamSharded(spark, dir).count())
    assert(e.getMessage.contains("schema mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("schema mismatch")))
    // empty dir refuses
    val dir3 = Files.createTempDirectory("arrowrs3").toString
    intercept[IllegalArgumentException](ArrowIpc.readStreamSharded(spark, dir3))
  }

  test("Arrow random-access FILE format (ARROW1 magic) refuses with stream-vs-file message") {
    val p = Files.createTempDirectory("arrowfile").resolve("ra.arrow")
    // a random-access Arrow FILE starts with the 8-byte "ARROW1\0\0" magic;
    // only the magic matters for the sniff — refusal must happen before the
    // stream parser ever sees the bytes
    Files.write(p, "ARROW1\u0000\u0000junkfooter".getBytes("US-ASCII"))
    val e = intercept[IllegalArgumentException](ArrowIpc.readStream(spark, p.toString))
    assert(e.getMessage.contains("STREAM") && e.getMessage.contains("ARROW1"))
  }

  test("pyarrow-written stream reads back (cross-direction pin)") {
    val path = java.nio.file.Paths.get(
      getClass.getResource("/arrow/py_feed.arrow").toURI).toString
    val df = ArrowIpc.readStream(spark, path)
    val rows = df.collect()
    assert(df.schema.map(_.dataType.typeName) == Seq("long", "array", "string"))
    assert(rows(0).getLong(0) == 1L && rows(0).getSeq[Float](1) == Seq(0.5f, 1.5f))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
    assert(rows(2).isNullAt(0) && rows(2).getSeq[Float](1).isEmpty &&
      rows(2).getString(2) == "emoji 😀")
  }

  test("unsigned Arrow ints refuse at schema time, not mid-read") {
    val path = java.nio.file.Paths.get(
      getClass.getResource("/arrow/unsigned.arrow").toURI).toString
    val e = intercept[IllegalArgumentException](ArrowIpc.readStream(spark, path))
    assert(e.getMessage.contains("unsigned int64"))
  }

  test("format dispatch: .arrows routes through Readers/Writers") {
    import spark.implicits._
    import graft.io.{FileMetadata, Format, Readers, Writers}
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val out = Files.createTempDirectory("arrowfmt").resolve("feed.arrows").toString
    assert(Format.detect(out) == Format.Arrow)
    Writers.write(df, FileMetadata.of(out))
    val back = Readers.read(spark, out).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("re-writing an existing feed (dest present) commits cleanly, new content wins") {
    import spark.implicits._
    val dir = Files.createTempDirectory("arrowrw").toString
    ArrowIpc.writeStreamSharded((1L to 6L).toDF("id"), dir, 2, Seq("id"))
    // second write: rename meets an existing destination per shard — the
    // commit must replace it (delete-on-refusal path), never gap or fail
    ArrowIpc.writeStreamSharded((10L to 16L).toDF("id"), dir, 2, Seq("id"))
    val back = ArrowIpc.readStreamSharded(spark, dir).as[Long].collect().toSet
    assert(back == (10L to 16L).toSet)
    // no temp leftovers in the feed dir
    val leftovers = new java.io.File(dir).list().filter(_.contains("inprogress"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    // single-file driver sink: same protocol, no .inprogress residue
    val single = Files.createTempDirectory("arrowrw1").resolve("feed.arrows")
    ArrowIpc.writeStream((1L to 3L).toDF("id"), single.toString)
    ArrowIpc.writeStream((4L to 7L).toDF("id"), single.toString)
    assert(ArrowIpc.readStream(spark, single.toString).as[Long].collect().toSet == (4L to 7L).toSet)
    assert(!Files.exists(single.resolveSibling("feed.arrows.inprogress")))
  }

  test("unsupported type refuses loudly") {
    import spark.implicits._
    val df = Seq((1L, Map("k" -> 1))).toDF("id", "m")
    val out = Files.createTempDirectory("arrow").resolve("bad.arrow").toString
    val e = intercept[IllegalArgumentException](ArrowIpc.writeStream(df, out))
    assert(e.getMessage.contains("unsupported"))
  }
}
