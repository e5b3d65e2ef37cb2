package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, NearDup, Similarity}

/** Multi-JVM smoke (dev main, like [[ScaleProbe]]/`PlanAudit`): the
  * same operators on `local-cluster[2,1,1024]` — two REAL executor
  * processes — must agree with in-process local mode. `local[N]` never
  * serializes anything across a process boundary; this is where task
  * binaries, the native Catalyst expressions (ShingleSet/MinHashSig/
  * LSH/dot), broadcasts, and the typedlit scale arrays actually cross
  * JVMs the way they would on a 1000-executor cluster. The chosen
  * operators are deliberately closure-free (the library's zero-UDF
  * design), so only the library classes ship — exactly like
  * production. Run:
  * `SPARK_SCALA_VERSION=2.13 sbt "runMain graft.ClusterSmoke"`
  * (needs SPARK_HOME pointing at a dist; prints one OK/FAIL line per
  * check). Kept out of `sbt test`: a broken executor-fork environment
  * hangs scheduling rather than failing fast, which must not gate the
  * suite. */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val home = sys.env.getOrElse("SPARK_HOME", "/opt/spark")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
    val spark = GraftSession("cluster-smoke",
      "spark.master" -> "local-cluster[2,1,1024]",
      "spark.home" -> home,
      // executors need the library classes: derive the path from THIS
      // class's code source so the tool works from any checkout
      "spark.executor.extraClassPath" ->
        new java.io.File(getClass.getProtectionDomain.getCodeSource
          .getLocation.toURI).getAbsolutePath,
      "spark.executor.extraJavaOptions" -> addOpens)
    import spark.implicits._

    // GRAFT_SMOKE_ONLY=<substring> runs just the matching checks — a
    // dev loop for the expensive forked-JVM cases (skipped checks are
    // labeled, never silently green)
    val only = sys.env.get("GRAFT_SMOKE_ONLY")
    def check(name: String)(body: => Boolean): Unit =
      if (only.exists(o => !name.contains(o))) println(s"SKIP $name")
      else println(s"${if (body) "OK  " else "FAIL"} $name")

    val docs = (0 until 10).flatMap { k =>
      val base = (0 until 12).map(j => s"w${k}_$j")
      Seq((2L * k, base.mkString(" ")),
        (2L * k + 1, base.updated(k % 12, s"x$k").mkString(" ")))
    }.toDF("doc_id", "text")
    val vecs = (0L until 20L).map(i => (i, (0 until 8).map(j =>
      ((i * 7 + j * 3) % 11).toFloat - 5f).toList)).toDF("vec_id", "embedding")

    check("native-expr dedup pipeline across executor JVMs") {
      val pairs = NearDup.minhashPairs(docs, 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      pairs.nonEmpty && pairs.forall { case (a, b) => b == a + 1 && a % 2 == 0 }
    }
    check("quantized MIPS scan: typedlit scales ship intact") {
      val out = Similarity.topKQuantized(vecs, vecs.filter(col("vec_id") < 2), 3)
        .collect()
      out.length == 6 && out.forall { r =>
        val rank = r.getLong(1); rank >= 1 && rank <= 3
      }
    }
    check("two-level prefix sum under distributed executors") {
      val d = (0L until 50L).map(i =>
        (i, Seq.fill((i % 5 + 1).toInt)("t").mkString(" "))).toDF("doc_id", "text")
      val out = Curation.packSequences(d, budget = 16, blockDocs = 7)
        .orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_start")))
      var acc = 0L
      // length FIRST: zip truncates, and an empty cross-JVM result must
      // not pass vacuously
      out.length == 50 && (0L until 50L).zip(out).forall { case (i, (id, start)) =>
        val ok = id == i && start == acc; acc += i % 5 + 1; ok
      }
    }
    check("Misra-Gries sketch buffers serialize across executor JVMs") {
      // the TypedImperativeAggregate's serialize/deserialize is the
      // only custom byte format in the library; partial sketches here
      // genuinely cross process boundaries through the shuffle
      val toks = (0 until 500).map(i =>
        if (i % 5 == 0) "hot" else s"t${i % 37}").toDF("tok").repartition(8)
      val hh = toks.agg(graft.functions.SketchExprs
          .heavyHitters(col("tok"), 64).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.token"), col("e.count"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      hh.get("hot").contains(100L) && hh.size == 38 // exact regime
    }
    check("quantile compactor stacks serialize across executor JVMs") {
      // the second custom TypedImperativeAggregate byte format:
      // partial compactor stacks cross the shuffle between REAL
      // processes, and the exact regime (500 ≤ k) must survive it
      val s2 = spark; import s2.implicits._
      val vals = (0 until 500).map(i => ((i * 7919) % 500).toDouble)
      val got = vals.toDF("v").repartition(8)
        .agg(graft.functions.SketchExprs
          .quantiles(col("v"), 1024, Seq(0.5, 0.99)).as("q"))
        .collect()(0).getSeq[Double](0)
      // (i*7919)%500 permutes 0..499; value v has rank v+1, so the
      // discrete lower quantile at q is value ceil(q*500)-1
      got == Seq(249.0, 494.0)
    }
    check("broadcast BloomFilter probes inside codegen across JVMs") {
      // contaminationXl's prune: the spark-sketch BloomFilter rides a
      // broadcast into BloomKeepExpr's generated code on REAL executor
      // processes — Java serialization of the filter plus the
      // addReferenceObj plumbing both cross the boundary here. Exact
      // equality with the collected-set path is the invariant.
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val ref = docs.filter(col("doc_id") % 2 === 1)
      val exact = Curation.contamination(corpus, ref)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val (xlDf, release) = Curation.contaminationXlScoped(corpus, ref)
      val xl = xlDf.orderBy("doc_id").collect().map(_.toSeq).toSeq
      release()
      exact.nonEmpty && xl == exact
    }
    check("native bloom build + literal probe across executor JVMs") {
      // the round-11 membership tier end-to-end on REAL executor
      // processes: BloomFilterAggregate's partial blooms merge across
      // the exchange, the blob literal rides the serialized plan back
      // out to executors for might_contain, and the exact confirm
      // keeps the answer exact — dup census must equal the planted set
      val hist = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(hist.limit(5)
          .withColumn("doc_id", col("doc_id") + 100000))
      val out = graft.pipeline.Dedup.bloomNovelty(hist, batch,
        expectedItems = 1000L, fpp = 0.01)
      val nDup = out.filter(col("is_dup")).count()
      val exact = batch.join(hist.select("text").distinct(),
        Seq("text"), "left_semi").count()
      nDup == exact && nDup >= 5L
    }
    check("two-level k-means assignment across executor JVMs") {
      // the round-8 kernel: the per-cell centroid arrays ride a
      // broadcast join into NearestInCellExpr's generated code on real
      // executor processes; the coarseK=1 law (two-level ≡ flat) must
      // survive the boundary. The k-means tier is Dim-fixed (64).
      val vecs64 = (0L until 20L).map(i => (i, (0 until Similarity.Dim)
        .map(j => ((i * 7 + j * 3) % 11).toFloat - 5f).toList))
        .toDF("vec_id", "embedding")
      val two = Similarity.twoLevelAssign(vecs64, coarseK = 1, fineK = 3,
          coarseIters = 1, fineIters = 1)
        .select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val flat = Similarity.kmeans(vecs64, k = 3, iters = 1)
        .select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      two.size == 20 && two == flat
    }
    check("MVCC archive store merge + pinned read across executor JVMs") {
      // the round-10 store protocol on real executor processes: the
      // merge's chunk write and the manifest-pinned multi-scan read
      // both run on executors that share nothing with the driver but
      // the filesystem — exactly the cross-process deployment shape
      import graft.streaming.{ArchiveStore, Ingest}
      val dir = java.nio.file.Files
        .createTempDirectory("smoke-mvcc").toString + "/slots"
      Ingest.mergePiecesIntoArchive(spark,
        Seq(Ingest.Piece("cs.m", 0L, 20L, 2.0)).toDF(), dir, stepSec = 10)
      val pinned = ArchiveStore.state(spark, dir).get
      Ingest.mergePiecesIntoArchive(spark,
        Seq(Ingest.Piece("cs.m", 10L, 40L, 8.0)).toDF(), dir, stepSec = 10)
      val v1 = ArchiveStore.readRaw(spark, dir, pinned)
        .select(col("t"), col("vw") / col("dur"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val v2 = Ingest.readArchive(spark, dir)
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
      v1 == Map(0L -> 2.0, 10L -> 2.0) &&
        v2 == Map(0L -> 2.0, 10L -> 5.0, 20L -> 8.0, 30L -> 8.0) &&
        ArchiveStore.state(spark, dir).get.version > pinned.version
    }
    check("PQ codebooks + ADC LUTs ship intact across executor JVMs") {
      // the round-10 tier: the nested books literal (array of array of
      // struct) and the per-query LUT arrays ride task binaries and a
      // broadcast into codegen on real executor processes. Invariants:
      // exact duplicates encode to identical code_keys, and IVF-PQ
      // scores equal flat-ADC scores wherever both rank a pair.
      val vecs64 = (0L until 20L).map(i => (i, (0 until Similarity.Dim)
        .map(j => ((i * 7 + j * 3) % 11).toFloat - 5f).toList))
        .toDF("vec_id", "embedding")
      val books = Similarity.pqCodebooks(vecs64)
      val twins = vecs64.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100).as("vec_id"), col("embedding"))
      val enc = Similarity.pqEncode(vecs64.unionByName(twins), books)
        .select("vec_id", "code_key").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val twinsOk = (0L until 5L).forall(i => enc(i) == enc(i + 100))
      val q = vecs64.filter(col("vec_id") < 2)
      val flat = Similarity.topKPqAdc(vecs64, q, 5, books)
        .select("qid", "vec_id", "adot").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val ivf = Similarity.topKIvfPq(vecs64, q, 5, books)
        .select("qid", "vec_id", "adot").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      twinsOk && ivf.nonEmpty &&
        ivf.forall { case (k, a) => flat.get(k).forall(_ == a) }
    }
    check("executors are separate JVMs") {
      val driverPid = ProcessHandle.current().pid()
      val execPids = spark.range(2).repartition(2)
        .mapPartitions(_ => Iterator(ProcessHandle.current().pid()))
        .collect().toSet
      !execPids.contains(driverPid) && execPids.nonEmpty
    }
    check("sharded ingest: 2 forked daemon JVMs == 1, union render") {
      shardedDaemonsCheck(spark, addOpens)
    }
    check("replication: kill one shard, replica serves its slice, ingest continues") {
      replicatedKillCheck(spark, addOpens)
    }
    check("reshard: 2-shard fleet resizes to 3 mid-stream, render == single daemon") {
      reshardCheck(spark, addOpens)
    }
    check("replicated reshard: copies=2 fleet resizes 2->3, then survives losing a NEW shard") {
      reshardCheck(spark, addOpens, copies = 2)
    }
    check("rolling reshard: ONE command resizes 2->3 under live load, senders never refused") {
      rollingReshardCheck(spark, addOpens)
    }
    check("roll-forward: coordinator dies between commits, fleet converges fully at M") {
      rollForwardCheck(spark, addOpens)
    }
    check("auto transition: standby joins then a member dies — fleet resizes both ways with no operator command") {
      autoTransitionCheck(spark, addOpens)
    }
    spark.stop()
  }

  /** The VERDICT-r12 dynamic-membership proof (Transition/Relinquish,
    * `cluster/cluster.go:667-700`, `receiver/dscache.go:287-315`): a
    * 2-shard fleet of REAL forked daemon JVMs resizes to 3 MID-STREAM,
    * with a planted series whose in-progress PDP interval straddles
    * the resize. Lifecycle: the old fleet stops gracefully (SIGTERM —
    * every accepted line committed, state checkpointed), the parent
    * runs the remap ([[graft.streaming.Reshard.writeSeeds]]: state out
    * of the stopped checkpoints via the state data source, re-homed to
    * `pmod(xxhash64, 3)` owners), and a NEW 3-daemon fleet boots with
    * `GRAFT_PDP_SEED` + `GRAFT_EXTRA_STORES`. Archive data never
    * moves. Proof: the union render over old + new stores is
    * bit-identical to a single-daemon control fed the same lines —
    * zero double-counted, zero gapped slots — and the new primaries
    * are disjoint at M=3. */
  private def reshardCheck(spark: SparkSession,
      addOpens: String, copies: Int = 1): Boolean = {
    import java.net.{ServerSocket, Socket}
    import java.io.PrintWriter
    import scala.util.Try
    import graft.streaming.{Ingest, Reshard, Shard}
    val root = java.nio.file.Files.createTempDirectory("smoke-resize").toString
    def freePort(): Int = {
      val ss = new ServerSocket(0); val p = ss.getLocalPort; ss.close(); p
    }
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def daemon(tag: String, gPort: Int,
        shard: Option[(Int, Int, String)],
        extra: Map[String, String] = Map.empty): Process = {
      val env = Map(
        "GRAFT_DATA_DIR" -> s"$root/$tag",
        "SPARK_GRAFT_CPUS" -> "2",
        "GRAFT_STEP_SEC" -> "10",
        "GRAFT_HEARTBEAT_SEC" -> "7200",
        "GRAFT_GRAPHITE_PORT" -> gPort.toString,
        // the check never dials these surfaces: bind them EPHEMERAL
        // (port 0) instead of freePort()-probed — the probe-then-bind
        // race across 3+ concurrently-booting child JVMs was a real
        // flake (BindException at startHttp). Only the graphite ports
        // must be known a priori (GRAFT_SHARD_PEERS is index-aligned).
        "GRAFT_STATSD_PORT" -> "0",
        "GRAFT_PICKLE_PORT" -> "0",
        "GRAFT_HTTP_PORT" -> "0") ++
        shard.map { case (i, n, peers) => Map(
          "GRAFT_SHARD_INDEX" -> i.toString,
          "GRAFT_SHARD_COUNT" -> n.toString,
          "GRAFT_SHARD_PEERS" -> peers) ++
          (if (copies > 1) Map("GRAFT_SHARD_COPIES" -> copies.toString)
           else Map.empty)
        }.getOrElse(Map.empty) ++ extra
      val cmd = Seq(javaBin) ++ addOpens.split(" ").toSeq ++ Seq(
        "-Dspark.ui.enabled=false", "-Xmx2g",
        "-cp", System.getProperty("java.class.path"),
        "graft.streaming.Daemon")
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      pb.environment().putAll(scala.jdk.CollectionConverters
        .MapHasAsJava(env).asJava)
      pb.start()
    }
    def drain(p: Process, sb: StringBuilder): Unit = {
      val t = new Thread(() => {
        val in = p.getInputStream
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) {
          sb.synchronized {
            sb.append(new String(buf, 0, n, "UTF-8"))
            if (sb.length > 64000) sb.delete(0, sb.length - 32000)
            ()
          }
          n = in.read(buf)
        }
      })
      t.setDaemon(true); t.start()
    }
    def bootAll(specs: Seq[(String, Int, Option[(Int, Int, String)],
        Map[String, String])]): Option[Seq[Process]] = {
      val procs = specs.map { case (t, p, sh, ex) => daemon(t, p, sh, ex) }
      val logs = Seq.fill(procs.size)(new StringBuilder)
      procs.zip(logs).foreach { case (p, l) => drain(p, l) }
      val deadline = System.currentTimeMillis() + 240000
      while (System.currentTimeMillis() < deadline) {
        if (logs.forall(l => l.synchronized(l.toString)
            .contains("graft daemon:")))
          return Some(procs)
        if (procs.exists(!_.isAlive)) {
          logs.foreach(l => println("--- resize boot log tail ---\n" +
            l.synchronized(l.toString).takeRight(1200)))
          procs.foreach(p => Try(p.destroyForcibly()))
          return None
        }
        Thread.sleep(200)
      }
      procs.foreach(p => Try(p.destroyForcibly()))
      None
    }
    val base = (System.currentTimeMillis() / 1000L - 4000) / 10 * 10
    val names = (1 to 9).map(i => s"rz$i.cpu")
    // epoch-1 ends MID-SLOT at base+55: the in-progress PDP interval
    // [55, ?) must survive the resize
    def e1Lines(n: String, v0: Int): Seq[String] =
      Seq(0L, 10L, 20L, 30L, 40L, 55L).zipWithIndex.map { case (dt, k) =>
        s"$n ${v0 + k}.5 ${base + dt}" }
    def e2Lines(n: String, v0: Int): Seq[String] =
      Seq(58L -> 6, 70L -> 7, 80L -> 8).map { case (dt, k) =>
        s"$n ${v0 + k}.5 ${base + dt}" }
    val isTest = col("name").startsWith("rz")
    def testRows(dir: String): Long =
      Try(Ingest.readArchive(spark, dir).filter(isTest).count())
        .getOrElse(0L)
    def feed(ports: Seq[Int], linesFor: Int => Seq[String]): Boolean = Try {
      val socks = ports.map(p => new Socket("127.0.0.1", p))
      val outs = socks.map(s => new PrintWriter(s.getOutputStream, true))
      names.indices.foreach(i =>
        linesFor(i).foreach(outs(i % (ports.size - 1)).println))
      // last port = the control, gets everything
      names.indices.foreach(i => linesFor(i).foreach(outs.last.println))
      outs.foreach(_.flush())
      Thread.sleep(200)
      socks.foreach(s => Try(s.close()))
    }.isSuccess
    // ---- control + epoch 1 ----
    val pCtl = freePort()
    val Seq(p1a, p1b) = Seq.fill(2)(freePort())
    val ctl = bootAll(Seq(("ctl", pCtl, None, Map.empty))).getOrElse {
      return false
    }
    val e1 = bootAll(Seq(
      ("e1/a", p1a, Some((0, 2, s"$p1a,$p1b")), Map.empty),
      ("e1/b", p1b, Some((1, 2, s"$p1a,$p1b")), Map.empty))).getOrElse {
      ctl.foreach(p => Try(p.destroyForcibly())); return false
    }
    try {
      if (!feed(Seq(p1a, p1b, pCtl), i => e1Lines(names(i), i * 10)))
        return false
      val wantE1 = names.size * 6L
      val d1 = System.currentTimeMillis() + 180000
      while ((testRows(s"$root/e1/a/points") + testRows(s"$root/e1/b/points")
          < wantE1 || testRows(s"$root/ctl/points") < wantE1) &&
          System.currentTimeMillis() < d1)
        Thread.sleep(500)
      if (testRows(s"$root/e1/a/points") + testRows(s"$root/e1/b/points")
          < wantE1) {
        println(s"resize: epoch-1 drain incomplete " +
          s"(${testRows(s"$root/e1/a/points")}+${testRows(s"$root/e1/b/points")})")
        return false
      }
      // ---- graceful stop of the old fleet (SIGTERM = Relinquish) ----
      e1.foreach(_.destroy())
      if (!e1.forall(_.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))) {
        e1.foreach(p => Try(p.destroyForcibly())); return false
      }
      // ---- the remap ----
      val seeds = (0 until 3).map(i => s"$root/seed/$i")
      Reshard.writeSeeds(spark,
        Seq(s"$root/e1/a/ckpt-points", s"$root/e1/b/ckpt-points"), 3, seeds)
      val seeded = seeds.map(p => spark.read.parquet(p)
        .filter(isTest).count()).sum
      if (seeded != names.size.toLong) {
        println(s"resize: seeds carry $seeded of ${names.size} test series")
        return false
      }
      // ---- epoch 2: three daemons, seeded, old stores read-only ----
      val Seq(p2a, p2b, p2c) = Seq.fill(3)(freePort())
      val peers2 = s"$p2a,$p2b,$p2c"
      val extraStores = s"$root/e1/a/points,$root/e1/b/points"
      val e2 = bootAll(Seq("a", "b", "c").zip(Seq(p2a, p2b, p2c)).zipWithIndex
        .map { case ((t, p), i) =>
          (s"e2/$t", p, Some((i, 3, peers2)), Map(
            "GRAFT_PDP_SEED" -> seeds(i),
            "GRAFT_EXTRA_STORES" -> extraStores) ++
            // replicated fleets also seed the replica receivers: each
            // shard's replica store inherits the slices of the shards
            // it replicates (the ring predecessors)
            (if (copies > 1)
              Map("GRAFT_PDP_SEED_ALL" -> seeds.mkString(","))
             else Map.empty))
        }).getOrElse { return false }
      try {
        if (!feed(Seq(p2a, p2b, p2c, pCtl), i => e2Lines(names(i), i * 10)))
          return false
        val e2dirs = Seq("a", "b", "c").map(t => s"$root/e2/$t/points")
        val wantCtl = names.size * 8L
        val d2 = System.currentTimeMillis() + 180000
        while ((e2dirs.map(testRows).sum < names.size * 3L ||
            testRows(s"$root/ctl/points") < wantCtl) &&
            System.currentTimeMillis() < d2)
          Thread.sleep(500)
        def testSet(dirs: Seq[String]): Set[(String, Long, Double)] =
          Ingest.readArchives(spark, dirs).filter(isTest)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toSet
        val union = testSet(Seq(s"$root/e1/a/points", s"$root/e1/b/points")
          ++ e2dirs)
        val control = testSet(Seq(s"$root/ctl/points"))
        // disjoint new primaries at M=3
        val misOwned = e2dirs.zipWithIndex.map { case (d, i) =>
          Try(Ingest.readArchive(spark, d).filter(isTest)
            .select(col("name")).distinct()
            .filter(pmod(xxhash64(col("name")), lit(3L)).cast("int") =!= i)
            .count()).getOrElse(-1L)
        }
        // the straddling slot: 5s of the e1 value + 3s + 2s of epoch-2
        // values, recombined across stores by the (vw, dur) merge
        val straddleOk = names.indices.forall { i =>
          union.find(r => r._1 == names(i) && r._2 == base + 50)
            .exists(_._3 == (5 * (i * 10 + 5.5) + 3 * (i * 10 + 6.5) +
              2 * (i * 10 + 7.5)) / 10)
        }
        val ok = union == control && union.size.toLong == wantCtl &&
          misOwned.forall(_ == 0L) && straddleOk
        if (!ok) println(s"resize check: union=${union.size} " +
          s"control=${control.size} want=$wantCtl mis=$misOwned " +
          s"straddle=$straddleOk")
        // ---- replicated variant: survive losing a NEW shard ----
        // The degraded render (down = the new shard 1; its slice from
        // its ring successor's ownership-filtered replica store, one
        // raw (vw, dur) merge across old-epoch + survivor + fallback
        // sources) must equal the control EXACTLY — including the
        // resize-straddling slot, which only works because the replica
        // receivers seeded at the resize (GRAFT_PDP_SEED_ALL). First
        // wait for the replica stores to drain (read-only probe, no
        // kill), then crash the shard for real and re-assert over the
        // now-static files.
        val okDegraded = if (!ok || copies <= 1) ok else {
          val e2repl = Seq("a", "b", "c").map(t =>
            s"$root/e2/$t/replica/points")
          def degradedSet(): Set[(String, Long, Double)] =
            Try(Shard.readClusterArchivesRaw(spark,
                Seq(s"$root/e1/a/points", s"$root/e1/b/points"),
                e2dirs, e2repl, copies, down = Set(1))
              .filter(isTest).collect()
              .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
              .toSet).getOrElse(Set.empty)
          val d3 = System.currentTimeMillis() + 120000
          var ds = degradedSet()
          while (ds != control && System.currentTimeMillis() < d3) {
            Thread.sleep(1000); ds = degradedSet()
          }
          e2(1).destroyForcibly()
          e2(1).waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
          val after = degradedSet()
          if (ds != control || after != control)
            println(s"resize+replica degraded render: drained=${ds.size} " +
              s"post-kill=${after.size} control=${control.size}")
          ds == control && after == control
        }
        okDegraded
      } finally {
        e2.foreach { p =>
          Try(p.destroy())
          if (!p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS))
            Try(p.destroyForcibly())
        }
      }
    } finally {
      (ctl ++ e1).foreach { p =>
        Try(p.destroy())
        if (p.isAlive && !p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS))
          Try(p.destroyForcibly())
      }
    }
  }

  /** The VERDICT-r12 replication proof (`cluster/cluster.go:183-191`
    * `Copies`, n-copy `selectNodes` placement): two real forked daemon
    * JVMs at copies=2, so every point series lands on its owner's
    * primary store AND its ring successor's replica store. The parent
    * kills shard 1 MID-RUN (destroyForcibly — a crash, no shutdown
    * hooks) and proves: (1) the owner-preferred render with shard 1
    * down — survivor primaries + the survivor's ownership-FILTERED
    * replica slice — is bit-identical to the pre-kill render for the
    * victim's series; (2) the survivor keeps ingesting its own series
    * (its replica sends to the dead peer drop fast through the
    * forwarder's circuit breaker instead of stalling the gateway). */
  /** The round-14 ONE-COMMAND rolling-resize proof (the memberlist
    * Transition analogue, `cluster/cluster.go:667-700` triggered from
    * `receiver/director.go:255-265` — here the operator's single
    * `Reshard rolling` invocation over the daemons' /admin control
    * plane): a 2-shard fleet of real forked daemon JVMs resizes to 3 —
    * one standby joiner, one coordinator call — while an external
    * feeder streams waves over PERSISTENT sockets the whole time.
    * Proofs: (1) the feeder never sees a connect refusal or write
    * error (gateway listeners never close — the availability property
    * the stop-the-world lifecycle lacked); (2) every line lands
    * exactly once: the union render over every epoch's stores is
    * bit-identical to a single-daemon control fed the same lines (zero
    * dropped below the queue cap, zero doubled, resize-straddling
    * slots recombined by the (vw, dur) merge); (3) the new epoch's
    * primaries are disjoint at M=3. */
  private def rollingReshardCheck(spark: SparkSession,
      addOpens: String): Boolean = {
    import java.net.{ServerSocket, Socket}
    import java.io.PrintWriter
    import scala.util.Try
    import graft.streaming.{Ingest, Reshard}
    val root = java.nio.file.Files.createTempDirectory("smoke-roll").toString
    def freePort(): Int = {
      val ss = new ServerSocket(0); val p = ss.getLocalPort; ss.close(); p
    }
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def daemon(tag: String, gPort: Int,
        extra: Map[String, String]): Process = {
      val env = Map(
        "GRAFT_DATA_DIR" -> s"$root/$tag",
        "SPARK_GRAFT_CPUS" -> "2",
        "GRAFT_STEP_SEC" -> "10",
        "GRAFT_HEARTBEAT_SEC" -> "7200",
        "GRAFT_GRAPHITE_PORT" -> gPort.toString,
        "GRAFT_STATSD_PORT" -> "0",
        "GRAFT_PICKLE_PORT" -> "0",
        "GRAFT_HTTP_PORT" -> "0") ++ extra
      val cmd = Seq(javaBin) ++ addOpens.split(" ").toSeq ++ Seq(
        "-Dspark.ui.enabled=false", "-Xmx2g",
        "-cp", System.getProperty("java.class.path"),
        "graft.streaming.Daemon")
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      pb.environment().putAll(scala.jdk.CollectionConverters
        .MapHasAsJava(env).asJava)
      pb.start()
    }
    def drain(p: Process, sb: StringBuilder): Unit = {
      val t = new Thread(() => try {
        val in = p.getInputStream
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) {
          sb.synchronized {
            sb.append(new String(buf, 0, n, "UTF-8"))
            if (sb.length > 64000) sb.delete(0, sb.length - 32000)
            ()
          }
          n = in.read(buf)
        }
      } catch { case _: java.io.IOException => () }) // killed child
      t.setDaemon(true); t.start()
    }
    val pCtl = freePort()
    val Seq(p1, p2, p3) = Seq.fill(3)(freePort())
    val peersOld = s"$p1,$p2"
    val procs = Seq(
      daemon("ctl", pCtl, Map.empty),
      daemon("d1", p1, Map("GRAFT_SHARD_INDEX" -> "0",
        "GRAFT_SHARD_COUNT" -> "2", "GRAFT_SHARD_PEERS" -> peersOld)),
      daemon("d2", p2, Map("GRAFT_SHARD_INDEX" -> "1",
        "GRAFT_SHARD_COUNT" -> "2", "GRAFT_SHARD_PEERS" -> peersOld)),
      // the JOINER: booted standby BEFORE the resize — gateways bound
      // and held, streams deferred until the coordinator's resume
      daemon("d3", p3, Map("GRAFT_STANDBY" -> "1",
        "GRAFT_SHARD_INDEX" -> "2", "GRAFT_SHARD_COUNT" -> "3",
        "GRAFT_SHARD_PEERS" -> s"$p1,$p2,$p3")))
    val logs = Seq.fill(procs.size)(new StringBuilder)
    procs.zip(logs).foreach { case (p, l) => drain(p, l) }
    try {
      val deadline = System.currentTimeMillis() + 240000
      var booted = false
      while (!booted && System.currentTimeMillis() < deadline) {
        booted = logs.forall(l =>
          l.synchronized(l.toString).contains("graft daemon:"))
        if (procs.exists(!_.isAlive)) {
          logs.foreach(l => println("--- rolling boot log tail ---\n" +
            l.synchronized(l.toString).takeRight(1200)))
          return false
        }
        if (!booted) Thread.sleep(200)
      }
      if (!booted) return false
      val admin = logs.drop(1).map(l => s"127.0.0.1:${bannerHttpPort(l)}")

      // external feeder: PERSISTENT sockets, one wave of 9 series per
      // 500 ms on the 10 s ts grid; series i rides fleet port i%2 and
      // the control — fixed port per series, like a real sender.
      // base sits INSIDE the heartbeat watermark window (self-stats
      // points carry wall-clock ts, so the event-time watermark runs
      // at now - heartbeat; a base further back than that gets every
      // feeder line dropped as late — observed, not hypothetical)
      val base = (System.currentTimeMillis() / 1000L - 4000) / 10 * 10
      val names = (1 to 9).map(i => s"rl$i.cpu")
      @volatile var waves = 0
      @volatile var errors = 0
      @volatile var stop = false
      val feeder = new Thread(() => {
        try {
          val socks = Seq(pCtl, p1, p2).map(p => new Socket("127.0.0.1", p))
          val outs = socks.map(s => new PrintWriter(s.getOutputStream, true))
          try {
            while (!stop) {
              val k = waves
              names.indices.foreach { i =>
                val line = s"${names(i)} ${i * 10 + k}.5 ${base + 10L * k}"
                outs(1 + (i % 2)).println(line)
                outs(0).println(line)
              }
              if (outs.exists(_.checkError())) errors += 1
              waves = k + 1
              Thread.sleep(500)
            }
            outs.foreach(_.flush())
            if (outs.exists(_.checkError())) errors += 1
          } finally socks.foreach(s => Try(s.close()))
        } catch { case _: Exception => errors += 1 }
      })
      feeder.start()
      val dWave = System.currentTimeMillis() + 60000
      while (waves < 8 && System.currentTimeMillis() < dWave)
        Thread.sleep(100)
      if (waves < 8) { stop = true; println(s"smoke: feeder stalled at $waves waves (errors=$errors)"); return false }

      // ---- THE one command, mid-stream ----
      try Reshard.rolling(spark, 3, s"$root/seed",
        oldAdmin = admin.take(2), standbyAdmin = admin.drop(2),
        newPeers = Seq(p1, p2, p3))
      catch {
        case e: Exception =>
          println(s"rolling coordinator failed: $e")
          stop = true
          return false
      }
      val atResume = waves
      val dPost = System.currentTimeMillis() + 60000
      while (waves < atResume + 10 && System.currentTimeMillis() < dPost)
        Thread.sleep(100)
      // ---- ABORT drill: a transition that stops after quiesce ----
      // (coordinator death): /admin/release must return every member
      // to service — held lines re-admitted under the UNCHANGED count,
      // streams relaunched at the current epoch — with zero loss; the
      // final bit-identity below covers the lines parked during it
      def adminPost(u: String, path: String): Int = Try {
        val c = new java.net.URI(s"http://$u$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setConnectTimeout(5000); c.setReadTimeout(300000)
        c.setRequestMethod("POST"); c.setDoOutput(true)
        c.getOutputStream.close()
        val code = c.getResponseCode
        c.disconnect(); code
      }.getOrElse(-1)
      val admins3 = admin // all three, now full members at M=3
      if (admins3.exists(u => adminPost(u, "/admin/hold") != 200)) {
        stop = true; println("abort drill: hold failed"); return false
      }
      if (admins3.exists(u => adminPost(u, "/admin/quiesce") != 200)) {
        stop = true; println("abort drill: quiesce failed"); return false
      }
      if (admins3.exists(u => adminPost(u, "/admin/release") != 200)) {
        stop = true; println("abort drill: release failed"); return false
      }
      val atAbort = waves
      val dAb = System.currentTimeMillis() + 60000
      while (waves < atAbort + 10 && System.currentTimeMillis() < dAb)
        Thread.sleep(100)
      stop = true
      feeder.join(10000)
      val k = waves
      if (errors > 0 || k < atResume + 10) {
        println(s"rolling feeder: errors=$errors waves=$k")
        return false
      }

      // drain + bit-identity: fleet union over EVERY epoch's stores ==
      // control, for the full feed (k waves → k-1 pieces per series)
      val isTest = col("name").startsWith("rl")
      val fleetDirs = Seq(s"$root/d1/points", s"$root/d2/points",
        s"$root/d1/ep1/points", s"$root/d2/ep1/points",
        s"$root/d3/ep1/points")
      def testSet(dirs: Seq[String]): Set[(String, Long, Double)] =
        Try(Ingest.readArchives(spark, dirs).filter(isTest)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .toSet).getOrElse(Set.empty)
      val want = names.size.toLong * (k - 1)
      // count-first wait (cheap), then the set compare: the forked
      // local[2] daemons commit micro-batch merges at ~1-2 s cadence,
      // so draining a few hundred waves takes minutes on a loaded box
      def rowsOf(dirs: Seq[String]): Long =
        Try(Ingest.readArchives(spark, dirs).filter(isTest).count())
          .getOrElse(0L)
      val d2l = System.currentTimeMillis() + 420000
      while ((rowsOf(Seq(s"$root/ctl/points")) < want ||
          rowsOf(fleetDirs) < want) &&
          System.currentTimeMillis() < d2l)
        Thread.sleep(2000)
      var ctlSet = testSet(Seq(s"$root/ctl/points"))
      var fleet = testSet(fleetDirs)
      while ((ctlSet.size.toLong < want || fleet != ctlSet) &&
          System.currentTimeMillis() < d2l) {
        Thread.sleep(2000)
        ctlSet = testSet(Seq(s"$root/ctl/points"))
        fleet = testSet(fleetDirs)
      }
      // disjoint primaries at M=3 in the new epoch
      val misOwned = Seq(s"$root/d1/ep1/points", s"$root/d2/ep1/points",
        s"$root/d3/ep1/points").zipWithIndex.map { case (d, i) =>
        Try(Ingest.readArchive(spark, d).filter(isTest)
          .select(col("name")).distinct()
          .filter(pmod(xxhash64(col("name")), lit(3L)).cast("int") =!= i)
          .count()).getOrElse(-1L)
      }
      val ok = fleet == ctlSet && ctlSet.size.toLong == want &&
        misOwned.forall(_ == 0L)
      if (!ok) {
        println(s"rolling: fleet=${fleet.size} ctl=${ctlSet.size} " +
          s"want=$want mis=$misOwned errors=$errors waves=$k")
        (Seq(s"$root/ctl/points") ++ fleetDirs).foreach(d =>
          println(s"  ${d.stripPrefix(root)}: ${rowsOf(Seq(d))} test rows"))
        logs.zipWithIndex.foreach { case (l, i) =>
          println(s"--- rolling daemon $i log tail ---\n" +
            l.synchronized(l.toString).takeRight(1000))
        }
      }
      ok
    } finally {
      procs.foreach { p =>
        Try(p.destroy())
        if (p.isAlive && !p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS))
          Try(p.destroyForcibly())
      }
    }
  }

  /** The round-15 partial-RESUME drill (the verdict's one remaining
    * transition hazard): the coordinator "dies" BETWEEN two commit
    * posts, after the whole fleet PREPARED and exactly one member
    * committed. The two-phase contract says recovery is roll-FORWARD —
    * commit the rest (idempotent), never release — and the fleet must
    * converge fully at M with zero feeder errors and a union render
    * bit-identical to the single-daemon control. The mid-commit mixed
    * window is observable via /admin/info (`prepared`), and a repeat
    * commit on an already-committed member answers 200. */
  private def rollForwardCheck(spark: SparkSession,
      addOpens: String): Boolean = {
    import java.net.{ServerSocket, Socket}
    import java.io.PrintWriter
    import scala.util.Try
    import graft.streaming.{Ingest, Reshard}
    val root = java.nio.file.Files.createTempDirectory("smoke-rollfwd").toString
    def freePort(): Int = {
      val ss = new ServerSocket(0); val p = ss.getLocalPort; ss.close(); p
    }
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def daemon(tag: String, gPort: Int,
        extra: Map[String, String]): Process = {
      val env = Map(
        "GRAFT_DATA_DIR" -> s"$root/$tag",
        "SPARK_GRAFT_CPUS" -> "2",
        "GRAFT_STEP_SEC" -> "10",
        "GRAFT_HEARTBEAT_SEC" -> "7200",
        "GRAFT_GRAPHITE_PORT" -> gPort.toString,
        "GRAFT_STATSD_PORT" -> "0",
        "GRAFT_PICKLE_PORT" -> "0",
        "GRAFT_HTTP_PORT" -> "0") ++ extra
      val cmd = Seq(javaBin) ++ addOpens.split(" ").toSeq ++ Seq(
        "-Dspark.ui.enabled=false", "-Xmx2g",
        "-cp", System.getProperty("java.class.path"),
        "graft.streaming.Daemon")
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      pb.environment().putAll(scala.jdk.CollectionConverters
        .MapHasAsJava(env).asJava)
      pb.start()
    }
    def drain(p: Process, sb: StringBuilder): Unit = {
      val t = new Thread(() => try {
        val in = p.getInputStream
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) {
          sb.synchronized {
            sb.append(new String(buf, 0, n, "UTF-8"))
            if (sb.length > 64000) sb.delete(0, sb.length - 32000)
            ()
          }
          n = in.read(buf)
        }
      } catch { case _: java.io.IOException => () })
      t.setDaemon(true); t.start()
    }
    val pCtl = freePort()
    val Seq(p1, p2, p3) = Seq.fill(3)(freePort())
    val peersOld = s"$p1,$p2"
    val procs = Seq(
      daemon("ctl", pCtl, Map.empty),
      daemon("d1", p1, Map("GRAFT_SHARD_INDEX" -> "0",
        "GRAFT_SHARD_COUNT" -> "2", "GRAFT_SHARD_PEERS" -> peersOld)),
      daemon("d2", p2, Map("GRAFT_SHARD_INDEX" -> "1",
        "GRAFT_SHARD_COUNT" -> "2", "GRAFT_SHARD_PEERS" -> peersOld)),
      daemon("d3", p3, Map("GRAFT_STANDBY" -> "1",
        "GRAFT_SHARD_INDEX" -> "2", "GRAFT_SHARD_COUNT" -> "3",
        "GRAFT_SHARD_PEERS" -> s"$p1,$p2,$p3")))
    val logs = Seq.fill(procs.size)(new StringBuilder)
    procs.zip(logs).foreach { case (p, l) => drain(p, l) }
    try {
      val deadline = System.currentTimeMillis() + 240000
      var booted = false
      while (!booted && System.currentTimeMillis() < deadline) {
        booted = logs.forall(l =>
          l.synchronized(l.toString).contains("graft daemon:"))
        if (procs.exists(!_.isAlive)) {
          logs.foreach(l => println("--- rollfwd boot log tail ---\n" +
            l.synchronized(l.toString).takeRight(1200)))
          return false
        }
        if (!booted) Thread.sleep(200)
      }
      if (!booted) return false
      val admin = logs.drop(1).map(l => s"127.0.0.1:${bannerHttpPort(l)}")
      def adminPost(u: String, path: String): (Int, String) = Try {
        val c = new java.net.URI(s"http://$u$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setConnectTimeout(5000); c.setReadTimeout(300000)
        c.setRequestMethod("POST"); c.setDoOutput(true)
        c.getOutputStream.close()
        val code = c.getResponseCode
        val is = if (code >= 400) c.getErrorStream else c.getInputStream
        val body = new String(is.readAllBytes(), "UTF-8")
        c.disconnect(); (code, body)
      }.getOrElse((-1, ""))
      def adminGet(u: String): String = Try {
        val c = new java.net.URI(s"http://$u/admin/info").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setConnectTimeout(5000); c.setReadTimeout(10000)
        val b = new String(c.getInputStream.readAllBytes(), "UTF-8")
        c.disconnect(); b
      }.getOrElse("")

      val base = (System.currentTimeMillis() / 1000L - 4000) / 10 * 10
      val names = (1 to 9).map(i => s"rf$i.cpu")
      @volatile var waves = 0
      @volatile var errors = 0
      @volatile var stop = false
      val feeder = new Thread(() => {
        try {
          val socks = Seq(pCtl, p1, p2).map(p => new Socket("127.0.0.1", p))
          val outs = socks.map(s => new PrintWriter(s.getOutputStream, true))
          try {
            while (!stop) {
              val k = waves
              names.indices.foreach { i =>
                val line = s"${names(i)} ${i * 10 + k}.5 ${base + 10L * k}"
                outs(1 + (i % 2)).println(line)
                outs(0).println(line)
              }
              if (outs.exists(_.checkError())) errors += 1
              waves = k + 1
              Thread.sleep(500)
            }
            outs.foreach(_.flush())
            if (outs.exists(_.checkError())) errors += 1
          } finally socks.foreach(s => Try(s.close()))
        } catch { case _: Exception => errors += 1 }
      })
      feeder.start()
      val dWave = System.currentTimeMillis() + 60000
      while (waves < 8 && System.currentTimeMillis() < dWave)
        Thread.sleep(100)
      if (waves < 8) { stop = true; println(s"smoke: feeder stalled at $waves waves (errors=$errors)"); return false }

      // ---- manual coordinator, dying between commits ----
      if (admin.exists(u => adminPost(u, "/admin/hold")._1 != 200)) {
        stop = true; println("rollfwd: hold failed"); return false
      }
      val quiesced = admin.map(u => adminPost(u, "/admin/quiesce"))
      if (quiesced.exists(_._1 != 200) ||
          quiesced.take(2).exists(!_._2.contains("\"flushed\":true"))) {
        stop = true; println(s"rollfwd: quiesce failed: $quiesced")
        return false
      }
      val seeds = (0 until 3).map(i => s"$root/seed/$i")
      Reshard.writeSeeds(spark,
        Seq(s"$root/d1/ckpt-points", s"$root/d2/ckpt-points"), 3, seeds)
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      def resumeQs(i: Int, phase: String) =
        s"/admin/resume?phase=$phase&count=3&index=$i" +
          s"&peers=${enc(s"$p1,$p2,$p3")}&epoch=1&seed=${enc(seeds(i))}"
      val prepCodes = admin.zipWithIndex.map { case (u, i) =>
        adminPost(u, resumeQs(i, "prepare"))._1 }
      if (prepCodes.exists(_ != 200)) {
        stop = true; println(s"rollfwd: prepare failed: $prepCodes")
        return false
      }
      if (!admin.forall(adminGet(_).contains("\"prepared\":{"))) {
        stop = true; println("rollfwd: prepared not visible in info")
        return false
      }
      // commit member 0 only — the coordinator "dies" here
      if (adminPost(admin(0), resumeQs(0, "commit"))._1 != 200) {
        stop = true; println("rollfwd: first commit failed"); return false
      }
      // the mixed window is observable: d1 committed at M=3 (still
      // parking, awaiting the fleet-wide open), d2/d3 held with staged
      // state
      val j0 = adminGet(admin(0))
      val midOk = j0.contains("\"count\":3") &&
        j0.contains("\"awaitingOpen\":true") &&
        admin.drop(1).forall { u =>
          val j = adminGet(u)
          j.contains("\"held\":true") && j.contains("\"prepared\":{")
        }
      if (!midOk) {
        stop = true; println(s"rollfwd: mixed window not as contracted: $j0")
        return false
      }
      // RECOVERY: roll forward — commit the rest; repeat-commit on the
      // already-committed member must answer 200 (idempotent); then the
      // fleet-wide drain rounds and open
      val fwd = admin.drop(1).map(u =>
        adminPost(u, resumeQs(0, "commit"))._1)
      val again = adminPost(admin(0), resumeQs(0, "commit"))
      if (fwd.exists(_ != 200) || again._1 != 200 ||
          !again._2.contains("\"already\":true")) {
        stop = true
        println(s"rollfwd: roll-forward failed: $fwd again=$again")
        return false
      }
      val drainCodes = (1 to 3).flatMap(_ => admin.map(u =>
        adminPost(u, "/admin/resume?phase=drain")._1))
      val openCodes = admin.map(u =>
        adminPost(u, "/admin/resume?phase=open")._1)
      if ((drainCodes ++ openCodes).exists(_ != 200)) {
        stop = true
        println(s"rollfwd: drain/open failed: $drainCodes $openCodes")
        return false
      }
      if (!admin.forall { u =>
        val j = adminGet(u)
        j.contains("\"count\":3") && j.contains("\"epoch\":1") &&
          j.contains("\"held\":false")
      }) { stop = true; println("rollfwd: fleet not converged at M"); return false }

      val atResume = waves
      val dPost = System.currentTimeMillis() + 60000
      while (waves < atResume + 10 && System.currentTimeMillis() < dPost)
        Thread.sleep(100)
      stop = true
      feeder.join(10000)
      val k = waves
      if (errors > 0 || k < atResume + 10) {
        println(s"rollfwd feeder: errors=$errors waves=$k")
        return false
      }

      val isTest = col("name").startsWith("rf")
      val fleetDirs = Seq(s"$root/d1/points", s"$root/d2/points",
        s"$root/d1/ep1/points", s"$root/d2/ep1/points",
        s"$root/d3/ep1/points")
      def testSet(dirs: Seq[String]): Set[(String, Long, Double)] =
        Try(Ingest.readArchives(spark, dirs).filter(isTest)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .toSet).getOrElse(Set.empty)
      val want = names.size.toLong * (k - 1)
      def rowsOf(dirs: Seq[String]): Long =
        Try(Ingest.readArchives(spark, dirs).filter(isTest).count())
          .getOrElse(0L)
      val d2l = System.currentTimeMillis() + 420000
      while ((rowsOf(Seq(s"$root/ctl/points")) < want ||
          rowsOf(fleetDirs) < want) &&
          System.currentTimeMillis() < d2l)
        Thread.sleep(2000)
      var ctlSet = testSet(Seq(s"$root/ctl/points"))
      var fleet = testSet(fleetDirs)
      while ((ctlSet.size.toLong < want || fleet != ctlSet) &&
          System.currentTimeMillis() < d2l) {
        Thread.sleep(2000)
        ctlSet = testSet(Seq(s"$root/ctl/points"))
        fleet = testSet(fleetDirs)
      }
      val ok = fleet == ctlSet && ctlSet.size.toLong == want
      if (!ok) {
        println(s"rollfwd: fleet=${fleet.size} ctl=${ctlSet.size} " +
          s"want=$want errors=$errors waves=$k")
        logs.zipWithIndex.foreach { case (l, i) =>
          println(s"--- rollfwd daemon $i log tail ---\n" +
            l.synchronized(l.toString).takeRight(1000))
        }
      }
      ok
    } finally {
      procs.foreach { p =>
        Try(p.destroy())
        if (p.isAlive && !p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS))
          Try(p.destroyForcibly())
      }
    }
  }

  /** The round-15 AUTOMATIC-transition proof — the reference's last
    * uncovered delta (`receiver/director.go:255-265`: Transition fired
    * from the memberlist cluster-change channel, NO operator in the
    * loop). A copies=2 fleet runs with `GRAFT_FLEET_FILE` armed; the
    * smoke only (1) boots a standby and registers its address — the
    * fleet LEADER detects the join and grows 2→3 by itself — then
    * (2) kills a member outright — the leader confirms death over
    * missed heartbeats and shrinks 3→2 by itself, survivors re-ranked,
    * the departed member's series seeded from the survivors' REPLICA
    * state. Proofs: both transitions complete with zero operator
    * commands and zero feeder errors, and the final owner-preferred
    * union render (replica fallback standing in for the dead member's
    * epoch-1 slice) is bit-identical to the single-daemon control. */
  private def autoTransitionCheck(spark: SparkSession,
      addOpens: String): Boolean = {
    import java.net.{ServerSocket, Socket}
    import java.io.PrintWriter
    import scala.util.Try
    import graft.streaming.{Ingest, Shard}
    val root = java.nio.file.Files.createTempDirectory("smoke-auto").toString
    val fleetFile = java.nio.file.Paths.get(s"$root/fleet.txt")
    def freePort(): Int = {
      val ss = new ServerSocket(0); val p = ss.getLocalPort; ss.close(); p
    }
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val fleetEnv = Map(
      "GRAFT_FLEET_FILE" -> fleetFile.toString,
      "GRAFT_FLEET_POLL_MS" -> "1000",
      "GRAFT_FLEET_DEBOUNCE" -> "2",
      "GRAFT_FLEET_DEAD_POLLS" -> "5")
    def daemon(tag: String, gPort: Int,
        extra: Map[String, String]): Process = {
      val env = Map(
        "GRAFT_DATA_DIR" -> s"$root/$tag",
        "SPARK_GRAFT_CPUS" -> "2",
        "GRAFT_STEP_SEC" -> "10",
        "GRAFT_HEARTBEAT_SEC" -> "7200",
        "GRAFT_GRAPHITE_PORT" -> gPort.toString,
        "GRAFT_STATSD_PORT" -> "0",
        "GRAFT_PICKLE_PORT" -> "0",
        "GRAFT_HTTP_PORT" -> "0") ++ extra
      val cmd = Seq(javaBin) ++ addOpens.split(" ").toSeq ++ Seq(
        "-Dspark.ui.enabled=false", "-Xmx2g",
        "-cp", System.getProperty("java.class.path"),
        "graft.streaming.Daemon")
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      pb.environment().putAll(scala.jdk.CollectionConverters
        .MapHasAsJava(env).asJava)
      pb.start()
    }
    def drain(p: Process, sb: StringBuilder): Unit = {
      val t = new Thread(() => try {
        val in = p.getInputStream
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) {
          sb.synchronized {
            sb.append(new String(buf, 0, n, "UTF-8"))
            if (sb.length > 64000) sb.delete(0, sb.length - 32000)
            ()
          }
          n = in.read(buf)
        }
      } catch { case _: java.io.IOException => () })
      t.setDaemon(true); t.start()
    }
    val pCtl = freePort()
    val Seq(p1, p2, p3) = Seq.fill(3)(freePort())
    val peersOld = s"$p1,$p2"
    val procs = collection.mutable.ArrayBuffer(
      daemon("ctl", pCtl, Map.empty),
      daemon("d1", p1, Map("GRAFT_SHARD_INDEX" -> "0",
        "GRAFT_SHARD_COUNT" -> "2", "GRAFT_SHARD_PEERS" -> peersOld,
        "GRAFT_SHARD_COPIES" -> "2") ++ fleetEnv),
      daemon("d2", p2, Map("GRAFT_SHARD_INDEX" -> "1",
        "GRAFT_SHARD_COUNT" -> "2", "GRAFT_SHARD_PEERS" -> peersOld,
        "GRAFT_SHARD_COPIES" -> "2") ++ fleetEnv))
    val logs = collection.mutable.ArrayBuffer(
      Seq.fill(procs.size)(new StringBuilder): _*)
    procs.zip(logs).foreach { case (p, l) => drain(p, l) }
    try {
      def awaitBanner(dl: Long): Boolean = {
        var booted = false
        while (!booted && System.currentTimeMillis() < dl) {
          booted = logs.forall(l =>
            l.synchronized(l.toString).contains("graft daemon:"))
          if (!booted) Thread.sleep(200)
        }
        booted
      }
      if (!awaitBanner(System.currentTimeMillis() + 240000)) {
        logs.foreach(l => println("--- auto boot log tail ---\n" +
          l.synchronized(l.toString).takeRight(1200)))
        return false
      }
      val a1 = s"127.0.0.1:${bannerHttpPort(logs(1))}"
      val a2 = s"127.0.0.1:${bannerHttpPort(logs(2))}"
      // register the founding members — the memberlist join list
      java.nio.file.Files.writeString(fleetFile, s"$a1\n$a2\n")
      def adminGet(u: String): String = Try {
        val c = new java.net.URI(s"http://$u/admin/info").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setConnectTimeout(3000); c.setReadTimeout(10000)
        val b = new String(c.getInputStream.readAllBytes(), "UTF-8")
        c.disconnect(); b
      }.getOrElse("")

      val base = (System.currentTimeMillis() / 1000L - 4000) / 10 * 10
      val names = (1 to 9).map(i => s"at$i.cpu")
      @volatile var waves = 0
      @volatile var errors = 0
      @volatile var stop = false
      val feeder = new Thread(() => {
        try { // d3 is doomed: feed only the founding members + control
          val socks = Seq(pCtl, p1, p2).map(p => new Socket("127.0.0.1", p))
          val outs = socks.map(s => new PrintWriter(s.getOutputStream, true))
          try {
            while (!stop) {
              val k = waves
              names.indices.foreach { i =>
                val line = s"${names(i)} ${i * 10 + k}.5 ${base + 10L * k}"
                outs(1 + (i % 2)).println(line)
                outs(0).println(line)
              }
              if (outs.exists(_.checkError())) errors += 1
              waves = k + 1
              Thread.sleep(500)
            }
            outs.foreach(_.flush())
            if (outs.exists(_.checkError())) errors += 1
          } finally socks.foreach(s => Try(s.close()))
        } catch { case _: Exception => errors += 1 }
      })
      feeder.start()
      val dWave = System.currentTimeMillis() + 60000
      while (waves < 8 && System.currentTimeMillis() < dWave)
        Thread.sleep(100)
      if (waves < 8) { stop = true; println(s"smoke: feeder stalled at $waves waves (errors=$errors)"); return false }

      // ---- JOIN: boot a standby, register it, and DO NOTHING ----
      procs += daemon("d3", p3, Map("GRAFT_STANDBY" -> "1",
        "GRAFT_SHARD_INDEX" -> "2", "GRAFT_SHARD_COUNT" -> "3",
        "GRAFT_SHARD_PEERS" -> s"$p1,$p2,$p3",
        "GRAFT_SHARD_COPIES" -> "2") ++ fleetEnv)
      val l3 = new StringBuilder
      logs += l3
      drain(procs.last, l3)
      if (!awaitBanner(System.currentTimeMillis() + 240000)) {
        stop = true; println("auto: standby never booted"); return false
      }
      val a3 = s"127.0.0.1:${bannerHttpPort(l3)}"
      java.nio.file.Files.writeString(fleetFile, s"$a1\n$a2\n$a3\n")
      def allShow(admins: Seq[String], count: Int, epoch: Int): Boolean =
        admins.forall { u =>
          val j = adminGet(u)
          j.contains(s""""count":$count""") &&
            j.contains(s""""epoch":$epoch""") &&
            j.contains(""""held":false""")
        }
      val dGrow = System.currentTimeMillis() + 180000
      while (!allShow(Seq(a1, a2, a3), 3, 1) &&
          System.currentTimeMillis() < dGrow)
        Thread.sleep(1000)
      if (!allShow(Seq(a1, a2, a3), 3, 1)) {
        stop = true
        println("auto: grow never fired; infos=" +
          Seq(a1, a2, a3).map(adminGet).mkString(" | "))
        println("--- d1 log tail ---\n" +
          logs(1).synchronized(logs(1).toString).takeRight(1500))
        return false
      }
      val atGrow = waves
      val dMid = System.currentTimeMillis() + 60000
      while (waves < atGrow + 10 && System.currentTimeMillis() < dMid)
        Thread.sleep(100)

      // ---- LEAVE: kill the joiner outright, and DO NOTHING ----
      procs.last.destroyForcibly()
      val dShrink = System.currentTimeMillis() + 180000
      while (!allShow(Seq(a1, a2), 2, 2) &&
          System.currentTimeMillis() < dShrink)
        Thread.sleep(1000)
      if (!allShow(Seq(a1, a2), 2, 2)) {
        stop = true
        println("auto: shrink never fired; infos=" +
          Seq(a1, a2).map(adminGet).mkString(" | "))
        println("--- d1 log tail ---\n" +
          logs(1).synchronized(logs(1).toString).takeRight(1500))
        return false
      }
      val atShrink = waves
      val dEnd = System.currentTimeMillis() + 60000
      while (waves < atShrink + 10 && System.currentTimeMillis() < dEnd)
        Thread.sleep(100)
      stop = true
      feeder.join(10000)
      val k = waves
      if (errors > 0 || k < atShrink + 10) {
        println(s"auto feeder: errors=$errors waves=$k")
        return false
      }

      // bit-identity: epoch-0 + epoch-2 primaries read plain; epoch-1
      // (the count-3 epoch) reads owner-preferred with the DEAD shard's
      // slice served from its replica holder, filtered to its
      // ownership predicate — one weighted merge over all raw pieces
      val isTest = col("name").startsWith("at")
      def fleetSet(): Set[(String, Long, Double)] =
        Try(Shard.readClusterArchivesRaw(spark,
          extraDirs = Seq(s"$root/d1/points", s"$root/d2/points",
            s"$root/d1/ep2/points", s"$root/d2/ep2/points"),
          shardPointDirs = Seq(s"$root/d1/ep1/points",
            s"$root/d2/ep1/points", s"$root/d3/ep1/points"),
          replicaPointDirs = Seq(s"$root/d1/ep1/replica/points",
            s"$root/d2/ep1/replica/points",
            s"$root/d3/ep1/replica/points"),
          copies = 2, down = Set(2))
          .filter(isTest)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .toSet).getOrElse(Set.empty)
      def ctlSetNow(): Set[(String, Long, Double)] =
        Try(Ingest.readArchives(spark, Seq(s"$root/ctl/points"))
          .filter(isTest)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .toSet).getOrElse(Set.empty)
      val want = names.size.toLong * (k - 1)
      val d2l = System.currentTimeMillis() + 420000
      var ctlSet = ctlSetNow()
      var fleet = fleetSet()
      while ((ctlSet.size.toLong < want || fleet != ctlSet) &&
          System.currentTimeMillis() < d2l) {
        Thread.sleep(2000)
        ctlSet = ctlSetNow()
        fleet = fleetSet()
      }
      val ok = fleet == ctlSet && ctlSet.size.toLong == want
      if (!ok) {
        println(s"auto: fleet=${fleet.size} ctl=${ctlSet.size} " +
          s"want=$want errors=$errors waves=$k " +
          s"missing=${(ctlSet -- fleet).take(5)} " +
          s"extra=${(fleet -- ctlSet).take(5)}")
        logs.zipWithIndex.foreach { case (l, i) =>
          println(s"--- auto daemon $i log tail ---\n" +
            l.synchronized(l.toString).takeRight(1200))
        }
      }
      ok
    } finally {
      procs.foreach { p =>
        Try(p.destroy())
        if (p.isAlive && !p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS))
          Try(p.destroyForcibly())
      }
    }
  }

  /** The bound HTTP port out of a drained daemon-banner log — the
    * non-dialed surfaces bind EPHEMERAL (port 0) to kill the freePort
    * probe-then-bind race across concurrently-booting child JVMs (the
    * reshardCheck fix, applied fleet-wide), so dialed ports are read
    * back from the banner instead of probed a priori. */
  private def bannerHttpPort(sb: StringBuilder): Int = {
    val s = sb.synchronized(sb.toString)
    "http=(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
      .getOrElse(sys.error("no http= in daemon banner"))
  }

  private def replicatedKillCheck(spark: SparkSession,
      addOpens: String): Boolean = {
    import java.net.{ServerSocket, Socket}
    import java.io.PrintWriter
    import scala.util.Try
    import graft.streaming.{Ingest, Shard}
    val root = java.nio.file.Files.createTempDirectory("smoke-repl").toString
    def freePort(): Int = {
      val ss = new ServerSocket(0); val p = ss.getLocalPort; ss.close(); p
    }
    val Seq(pA, pB) = Seq.fill(2)(freePort())
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def daemon(tag: String, i: Int, gPort: Int): Process = {
      val env = Map(
        "GRAFT_DATA_DIR" -> s"$root/$tag",
        "SPARK_GRAFT_CPUS" -> "2",
        "GRAFT_STEP_SEC" -> "10",
        "GRAFT_GRAPHITE_PORT" -> gPort.toString,
        // only the graphite ports are dialed a priori (the peer list
        // is index-aligned); everything else binds EPHEMERAL — the
        // freePort probe-then-bind race was a real flake here too
        "GRAFT_STATSD_PORT" -> "0",
        "GRAFT_PICKLE_PORT" -> "0",
        "GRAFT_HTTP_PORT" -> "0",
        "GRAFT_SHARD_INDEX" -> i.toString,
        "GRAFT_SHARD_COUNT" -> "2",
        "GRAFT_SHARD_COPIES" -> "2",
        "GRAFT_SHARD_PEERS" -> s"$pA,$pB")
      val cmd = Seq(javaBin) ++ addOpens.split(" ").toSeq ++ Seq(
        "-Dspark.ui.enabled=false", "-Xmx2g",
        "-cp", System.getProperty("java.class.path"),
        "graft.streaming.Daemon")
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      pb.environment().putAll(scala.jdk.CollectionConverters
        .MapHasAsJava(env).asJava)
      pb.start()
    }
    def drain(p: Process, sb: StringBuilder): Unit = {
      val t = new Thread(() => {
        val in = p.getInputStream
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) {
          sb.synchronized {
            sb.append(new String(buf, 0, n, "UTF-8"))
            if (sb.length > 64000) sb.delete(0, sb.length - 32000)
            ()
          }
          n = in.read(buf)
        }
      })
      t.setDaemon(true); t.start()
    }
    val procs = Seq(daemon("a", 0, pA), daemon("b", 1, pB))
    val logs = Seq.fill(2)(new StringBuilder)
    procs.zip(logs).foreach { case (p, l) => drain(p, l) }
    def awaitBanner(p: Process, sb: StringBuilder): Boolean = {
      val deadline = System.currentTimeMillis() + 120000
      while (System.currentTimeMillis() < deadline) {
        if (sb.synchronized(sb.toString).contains("graft daemon:"))
          return true
        if (!p.isAlive) return false
        Thread.sleep(200)
      }
      false
    }
    try {
      if (!procs.zip(logs).forall { case (p, l) => awaitBanner(p, l) }) {
        logs.zipWithIndex.foreach { case (l, i) =>
          println(s"--- repl daemon $i log tail ---\n" +
            l.synchronized(l.toString).takeRight(1500))
        }
        return false
      }
      val base = (System.currentTimeMillis() / 1000L - 4000) / 10 * 10
      val names = (1 to 10).map(i => s"rk$i.cpu")
      def linesOf(n: String): Seq[String] =
        (0 until 6).map(k => s"$n ${k + 1}.5 ${base + k * 10}")
      val socks = Seq(pA, pB).map(p => new Socket("127.0.0.1", p))
      val outs = socks.map(s => new PrintWriter(s.getOutputStream, true))
      names.zipWithIndex.foreach { case (n, i) =>
        linesOf(n).foreach(l => outs(i % 2).println(l))
      }
      outs.foreach(_.flush())
      val isTest = col("name").startsWith("rk")
      def testRows(dir: String): Long =
        Try(Ingest.readArchive(spark, dir).filter(isTest).count())
          .getOrElse(0L)
      val want = names.size * 5L
      val deadline = System.currentTimeMillis() + 180000
      // primaries AND replicas must both hold every closed slot
      while ((testRows(s"$root/a/points") + testRows(s"$root/b/points") < want ||
          testRows(s"$root/a/replica/points") +
            testRows(s"$root/b/replica/points") < want) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      def testSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Double)] =
        df.filter(isTest).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val preKill = testSet(Ingest.readArchives(spark,
        Seq(s"$root/a/points", s"$root/b/points")))
      val victimSeries = names.filter(n => Shard.owner(n, 2) == 1).toSet
      val preKillVictim = preKill.filter(r => victimSeries(r._1))
      if (preKill.size.toLong != want || preKillVictim.isEmpty ||
          victimSeries.size == names.size) {
        println(s"repl precondition: preKill=${preKill.size} want=$want " +
          s"victims=${victimSeries.size}/${names.size}")
        return false
      }
      // CRASH shard 1 (no graceful hooks)
      procs(1).destroyForcibly()
      procs(1).waitFor(15, java.util.concurrent.TimeUnit.SECONDS)
      // the survivor keeps ingesting its own series: new points for an
      // A-owned name, later timestamps; its replica sends to the dead
      // peer must DROP fast, not stall the gateway
      val aOwned = names.find(n => Shard.owner(n, 2) == 0).get
      val contBase = base + 200
      val contWant = 5L
      val d2 = System.currentTimeMillis() + 180000
      def contRows(): Long =
        Try(Ingest.readArchive(spark, s"$root/a/points")
          .filter(col("name") === aOwned && col("t") >= contBase)
          .count()).getOrElse(0L)
      // send over a FRESH connection each retry round: the pre-kill
      // socket can die silently (PrintWriter swallows IOExceptions),
      // which lost the whole batch with no retry — the one observed
      // flake of this check. Replays are safe: the PDP rejects
      // ts <= lastTs, so a re-sent point can never double-count.
      while (contRows() < contWant && System.currentTimeMillis() < d2) {
        Try {
          val sock = new Socket("127.0.0.1", pA)
          val out = new PrintWriter(sock.getOutputStream, true)
          (0 until 6).foreach(k =>
            out.println(s"$aOwned ${k + 9}.5 ${contBase + k * 10}"))
          out.flush()
          sock.close()
        }
        Thread.sleep(3000)
      }
      // owner-preferred render with shard 1 down: survivor primary +
      // survivor's replica slice filtered to the victim's ownership
      val postRender = testSet(Shard.readClusterArchives(spark,
        Seq(s"$root/a/points", s"$root/b/points"),
        Seq(s"$root/a/replica/points", s"$root/b/replica/points"),
        copies = 2, down = Set(1)))
      val postVictim = postRender.filter(r => victimSeries(r._1))
      val ok = postVictim == preKillVictim && contRows() >= contWant &&
        // every victim row came from the REPLICA store, never the dead
        // primary: the replica slice alone reproduces it
        testSet(Ingest.readArchive(spark, s"$root/a/replica/points"))
          .filter(r => victimSeries(r._1)) == preKillVictim
      if (!ok) {
        println(s"repl check: preVictim=${preKillVictim.size} " +
          s"postVictim=${postVictim.size} cont=${contRows()}")
        // flake forensics: is the survivor even alive, what do its
        // stats say, what did it last log?
        println(s"repl survivor alive=${procs(0).isAlive}" +
          (if (!procs(0).isAlive) s" exit=${procs(0).exitValue()}" else ""))
        println("repl survivor /stats: " + Try {
          val hA = bannerHttpPort(logs(0))
          val c = new java.net.URI(s"http://127.0.0.1:$hA/stats").toURL
            .openConnection().asInstanceOf[java.net.HttpURLConnection]
          c.setConnectTimeout(3000); c.setReadTimeout(5000)
          val b = new String(c.getInputStream.readAllBytes(), "UTF-8")
          c.disconnect(); b
        }.getOrElse("<unreachable>"))
        println("repl aOwned slots present: " + Try(
          Ingest.readArchive(spark, s"$root/a/points")
            .filter(col("name") === aOwned).select("t").collect()
            .map(_.getLong(0)).sorted.mkString(","))
          .getOrElse("<unreadable>"))
        println("--- repl survivor log tail ---\n" +
          logs(0).synchronized(logs(0).toString).takeRight(2500))
      }
      socks.foreach(s => Try(s.close()))
      ok
    } finally {
      procs.foreach { p =>
        Try(p.destroy())
        if (!p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS))
          Try(p.destroyForcibly())
      }
    }
  }

  /** The VERDICT-r11 cluster-ingest proof: THREE real forked daemon
    * processes — shards 0 and 1 of a 2-shard deployment plus a
    * single-daemon control — each a full `graft.streaming.Daemon`
    * JVM with its own SparkSession, gateways and MVCC stores. One
    * graphite stream feeds the shards (each series entering at a
    * FIXED but owner-independent daemon, so the forwarding hop fires
    * in both directions) and, identically, the control. The parent
    * then proves, through the filesystem alone: every series sits on
    * the shard `pmod(xxhash64(name), 2)` assigns it, and the UNION
    * render of the two shard stores is bit-identical to the control
    * store (`cluster/cluster.go:209-250`, `receiver/director.go:89-117`
    * re-expressed — see [[graft.streaming.Shard]]). */
  private def shardedDaemonsCheck(spark: SparkSession,
      addOpens: String): Boolean = {
    import java.net.{ServerSocket, Socket}
    import java.io.PrintWriter
    import scala.util.Try
    import graft.streaming.Ingest
    val root = java.nio.file.Files.createTempDirectory("smoke-shard").toString
    def freePort(): Int = {
      val ss = new ServerSocket(0); val p = ss.getLocalPort; ss.close(); p
    }
    val Seq(pA, pB, pC) = Seq.fill(3)(freePort())
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def daemon(tag: String, gPort: Int,
        shard: Option[(Int, Int, String)]): Process = {
      val env = Map(
        "GRAFT_DATA_DIR" -> s"$root/$tag",
        "SPARK_GRAFT_CPUS" -> "2",
        "GRAFT_STEP_SEC" -> "10",
        "GRAFT_GRAPHITE_PORT" -> gPort.toString,
        // non-dialed surfaces bind EPHEMERAL; the /stats ports are
        // read back from the boot banner (the freePort probe-then-bind
        // race was a real flake here too — BindException at startHttp)
        "GRAFT_STATSD_PORT" -> "0",
        "GRAFT_PICKLE_PORT" -> "0",
        "GRAFT_HTTP_PORT" -> "0") ++
        shard.map { case (i, n, peers) => Map(
          "GRAFT_SHARD_INDEX" -> i.toString,
          "GRAFT_SHARD_COUNT" -> n.toString,
          "GRAFT_SHARD_PEERS" -> peers)
        }.getOrElse(Map.empty)
      val cmd = Seq(javaBin) ++ addOpens.split(" ").toSeq ++ Seq(
        "-Dspark.ui.enabled=false", "-Xmx2g",
        "-cp", System.getProperty("java.class.path"),
        "graft.streaming.Daemon")
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      pb.environment().putAll(scala.jdk.CollectionConverters
        .MapHasAsJava(env).asJava)
      pb.start()
    }
    // drain each child's stdout continuously (an undrained pipe fills
    // and BLOCKS the child mid-log), keeping a bounded tail for
    // diagnostics; boot-wait polls the drained buffer for the banner
    def drain(p: Process, sb: StringBuilder): Thread = {
      val t = new Thread(() => {
        val in = p.getInputStream
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) {
          sb.synchronized {
            sb.append(new String(buf, 0, n, "UTF-8"))
            if (sb.length > 64000) sb.delete(0, sb.length - 32000)
            ()
          }
          n = in.read(buf)
        }
      })
      t.setDaemon(true); t.start(); t
    }
    def awaitBanner(p: Process, sb: StringBuilder): Boolean = {
      val deadline = System.currentTimeMillis() + 120000
      while (System.currentTimeMillis() < deadline) {
        if (sb.synchronized(sb.toString).contains("graft daemon:"))
          return true
        if (!p.isAlive) return false
        Thread.sleep(200)
      }
      false
    }
    val peers = s"$pA,$pB"
    val procs = Seq(
      daemon("a", pA, Some((0, 2, peers))),
      daemon("b", pB, Some((1, 2, peers))),
      daemon("c", pC, None))
    val logs = Seq.fill(3)(new StringBuilder)
    procs.zip(logs).foreach { case (p, l) => drain(p, l) }
    try {
      if (!procs.zip(logs).forall { case (p, l) => awaitBanner(p, l) }) {
        logs.zipWithIndex.foreach { case (l, i) =>
          println(s"--- daemon $i log tail ---\n" +
            l.synchronized(l.toString).takeRight(1500))
        }
        return false
      }
      // the stream: 12 plain series + one tagged series spelled two
      // ways; entry daemon fixed per series (order survives the hop)
      val base = (System.currentTimeMillis() / 1000L - 4000) / 10 * 10
      val names = (1 to 12).map(i => s"srv$i.cpu") ++
        Seq("tag.m;zone=z;dc=east", "tag.m;dc=east;zone=z")
      def linesOf(n: String): Seq[String] =
        (0 until 6).map(k => s"$n ${k + 1}.5 ${base + k * 10}")
      val socks = Seq(pA, pB, pC).map(p => new Socket("127.0.0.1", p))
      val outs = socks.map(s => new PrintWriter(s.getOutputStream, true))
      names.zipWithIndex.foreach { case (n, i) =>
        linesOf(n).foreach { l => outs(i % 2).println(l); outs(2).println(l) }
      }
      outs.foreach(_.flush())
      val want = 13L * 5L // 13 canonical series, 6 points -> 5 slots
      def testRows(tag: String): Long =
        Try(Ingest.readArchive(spark, s"$root/$tag/points")
          .filter(col("name").startsWith("srv") ||
            col("name").startsWith("tag.m"))
          .count()).getOrElse(0L)
      val deadline = System.currentTimeMillis() + 180000
      while ((testRows("a") + testRows("b") < want ||
          testRows("c") < want) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      // disjoint ownership on EVERYTHING stored (self-stats included:
      // they are ordinary points through the same director)
      def misOwned(tag: String, own: Int): Long =
        Ingest.readArchive(spark, s"$root/$tag/points")
          .select(col("name")).distinct()
          .filter(pmod(xxhash64(col("name")), lit(2L)).cast("int") =!= own)
          .count()
      // union render vs the control, test series only (each shard
      // daemon also emits its OWN self-stats stream — two stat
      // streams vs the control's one, deliberately out of scope)
      def testSet(dirs: Seq[String]): Set[(String, Long, Double)] =
        Ingest.readArchives(spark, dirs)
          .filter(col("name").startsWith("srv") ||
            col("name").startsWith("tag.m"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .toSet
      val union = testSet(Seq(s"$root/a/points", s"$root/b/points"))
      val single = testSet(Seq(s"$root/c/points"))
      socks.foreach(s => Try(s.close()))
      // the shard counters surface on /stats (the reference's
      // stats.forwarded / forwarded_to ops visibility)
      def statsOf(port: Int): String = Try {
        val c = new java.net.URL(s"http://127.0.0.1:$port/stats")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setConnectTimeout(5000); c.setReadTimeout(30000)
        val body = new String(c.getInputStream.readAllBytes(), "UTF-8")
        c.disconnect(); body
      }.getOrElse("")
      def statLong(body: String, k: String): Long =
        s""""$k":(\\d+)""".r.findFirstMatchIn(body)
          .map(_.group(1).toLong).getOrElse(-1L)
      val (stA, stB) =
        (statsOf(bannerHttpPort(logs(0))), statsOf(bannerHttpPort(logs(1))))
      val statsOk =
        statLong(stA, "shard.index") == 0L &&
          statLong(stB, "shard.index") == 1L &&
          statLong(stA, "shard.graphite.forwarded") > 0L &&
          statLong(stB, "shard.graphite.forwarded") > 0L &&
          statLong(stA, "shard.graphite.fwd_dropped") == 0L &&
          statLong(stB, "shard.graphite.fwd_dropped") == 0L
      val ok = misOwned("a", 0) == 0 && misOwned("b", 1) == 0 &&
        union == single && union.size.toLong == want &&
        union.exists(_._1 == "tag.m;dc=east;zone=z") && statsOk
      if (!ok) println(s"shard check: union=${union.size} single=" +
        s"${single.size} misA=${misOwned("a", 0)} misB=${misOwned("b", 1)} " +
        s"statsOk=$statsOk statsA=${stA.take(400)}")
      ok
    } finally {
      procs.foreach { p =>
        Try(p.destroy())
        if (!p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS))
          Try(p.destroyForcibly())
      }
    }
  }
}
