package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, GraftConfig, Tables}
import graft.functions.{CryptoFunctions, DidVc}
import graft.graph.{Closure, GraphData, Traverse}
import graft.queries.Prepared
import graft.scenario.DynamicReplay
import graft.streaming.CdcStream

/** The benchmark's JVM side: builds the session, sets the workload up, then
  * runs the timed window and, with `--trace 1`, a second, traced window over
  * the same op list.
  *
  * It reads the generated op list from the run directory and writes every
  * op's timing and answer to `records.jsonl` there; run.py checks the
  * answers and computes the statistics. This process is the only load
  * generator: the closed loops run on the main thread, the open loop on one
  * generator thread plus the stream's own thread.
  *
  * Usage: BenchMain --workload W --sf DIR --run-dir DIR --seconds S
  *                  --trace 0|1 --cores N --warm-ops W
  *                  --tail-ops K
  *
  * A closed loop's timed window runs until S seconds have passed and at
  * least K ops are done, so the tail is always taken over K ops. Its traced
  * window runs exactly K ops, so its counts cover a fixed op list and repeat
  * for one seed. Either window stops early only after CapFactor * S seconds.
  */
object BenchMain {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val sf = opt("sf")
    val runDir = opt("run-dir")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val warmOps = opt("warm-ops").toInt
    val tailOps = opt("tail-ops").toInt
    val out = new Out(s"$runDir/records.jsonl")
    val trace = new Trace
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // Set-up runs from JVM start to the first timed op: session, tables,
    // cache fill, credential issuance and warm-up.
    val spark = session(cores, s"$runDir/spark-local")
    val w = Workload(name, Ctx(spark, sf, runDir, cores, warmOps, tailOps, trace, out))
    w.setup()
    val setupS = (System.nanoTime() - trace.msToNano(jvmStartMs)) / 1e9
    val jitMs = Trace.jitMs
    out.write(json("kind" -> "setup", "setup_s" -> setupS, "jit_ms" -> jitMs,
      "layers" -> w.setupLayers, "mem_live_mb" -> memLiveMb))

    w.run("timed", seconds)
    if (traced) {
      trace.register(spark)
      val gc0 = Trace.gcMs
      val ops = w.run("traced", seconds)
      val gcMs = Trace.gcMs - gc0
      trace.fence(spark)
      val storage = spark.sparkContext.getRDDStorageInfo
      val layers = Trace.sparkLayer(trace, ops, cores) ++ w.layers(ops) ++ Map(
        "spark.gc_ms_per_op" -> gcMs.toDouble / math.max(ops.size, 1),
        "spark.jit_ms" -> jitMs.toDouble,
        "cache.mem_mb" -> storage.map(_.memSize).sum / 1048576.0,
        "cache.disk_mb" -> storage.map(_.diskSize).sum / 1048576.0,
        "cache.registry_entries" -> CacheRegistry.size.toDouble)
      Trace.writeSpans(trace, s"$runDir/spans.jsonl")
      out.write(json("kind" -> "layers", "ops" -> ops.size, "layers" -> layers))
    }
    out.write(json("kind" -> "env",
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_conf" -> spark.conf.getAll.toMap))
    w.close()
    spark.stop()
    out.close()
  }

  /** The session `graft.Verify` builds: local[N], N shuffle partitions, UTC,
    * UI off. The local dir keeps Spark's scratch files inside the run dir.
    */
  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Memory the program keeps: heap still in use after a full collection
    * (cached tables, credentials, snapshots, memos) plus non-heap (classes,
    * compiled code). Taken when set-up, a fixed op list, is done, before
    * the timed window and outside every timing, so it does not depend on
    * throughput. Unlike the resident set it does not read back the fixed
    * -Xms heap. A collection hands Spark's context cleaner the broadcasts,
    * shuffles and blocks no plan references any more, and the cleaner
    * releases them in the background; so collect again, half a second
    * apart, until a collection frees less than 1 MB.
    */
  def memLiveMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collected(): Double = {
      System.gc()
      (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
    }
    var before = collected()
    var after = before
    var rounds = 0
    do {
      before = after
      Thread.sleep(500)
      after = collected()
      rounds += 1
    } while (before - after >= 1.0 && rounds < 10)
    after
  }

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** One JSON record; values may be Scala maps, sequences and options. */
  def json(kv: (String, Any)*): String = mapper.writeValueAsString(kv.toMap)

  def ms(ns: Long): Double = ns / 1e6

  def errorAnswer(e: Throwable): String =
    s"ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Tab-separated op list written by gen.py. */
  def readOps(path: String): IndexedSeq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty)
      .map(_.split("\t")).toIndexedSeq
}

final class Out(path: String) {
  private val w = new java.io.PrintWriter(path, "UTF-8")
  def write(line: String): Unit = synchronized { w.println(line); w.flush() }
  def close(): Unit = synchronized(w.close())
}

final case class Ctx(spark: SparkSession, sf: String, runDir: String, cores: Int,
    warmOps: Int, tailOps: Int, trace: Trace, out: Out)

trait Workload {
  def setup(): Unit
  /** Run one measuring window; returns op id -> (start ns, end ns). */
  def run(phase: String, seconds: Double): Map[String, (Long, Long)]
  def setupLayers: Map[String, Double]
  def layers(ops: Map[String, (Long, Long)]): Map[String, Double]
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "authz_read" => new AuthzRead(c)
    case "vc_audit" => new VcAudit(c)
    case "topology_cdc" => new TopologyCdc(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** One client: the next op starts when the previous one has returned. */
abstract class ClosedLoop(c: Ctx) extends Workload {
  import c._
  val ops: IndexedSeq[Array[String]] = BenchMain.readOps(s"$runDir/ops.tsv")
  protected val setupMs = mutable.Map[String, Double]()

  def exec(op: Array[String]): String

  protected def timedSetup(key: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    setupMs(key) = BenchMain.ms(System.nanoTime() - t0)
  }

  /** Untimed set-up: the ops of warmup.tsv, then `warmOps` ops of the op
    * list from its middle on, so the JIT has compiled the op's paths before
    * the window. Their answers are checked too.
    */
  protected def warmUp(): Unit = {
    BenchMain.readOps(s"$runDir/warmup.tsv").zipWithIndex
      .foreach { case (op, i) => runOne("warmup", i, op) }
    loop("warmloop", ops.size / 2, 0, warmOps, warmOps, ClosedLoop.WarmCapS)
  }

  private def runOne(phase: String, i: Int, op: Array[String]): (String, Long, Long) = {
    val id = s"$phase-$i"
    trace.beginOp(spark, id)
    val t0 = System.nanoTime()
    val ans = try trace.span("op")(exec(op)) catch { case NonFatal(e) => BenchMain.errorAnswer(e) }
    val t1 = System.nanoTime()
    trace.endOp(spark)
    out.write(BenchMain.json("kind" -> "op", "phase" -> phase, "idx" -> i,
      "start_ns" -> t0, "end_ns" -> t1, "answer" -> ans))
    (id, t0, t1)
  }

  /** Runs ops from index `from` on until `seconds` have passed and at least
    * `minOps` are done, stopping at `maxOps` ops or after `capSeconds`.
    */
  private def loop(phase: String, from: Int, seconds: Double, minOps: Int,
      maxOps: Int, capSeconds: Double): Map[String, (Long, Long)] = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val cap = t0 + (capSeconds * 1e9).toLong
    val windows = mutable.LinkedHashMap[String, (Long, Long)]()
    var i = from
    def more(now: Long) = i - from < maxOps && now < cap && (now < deadline || i - from < minOps)
    while (more(System.nanoTime())) {
      val (id, t0, t1) = runOne(phase, i, ops(i % ops.size))
      windows(id) = (t0, t1)
      i += 1
    }
    windows.toMap
  }

  def run(phase: String, seconds: Double): Map[String, (Long, Long)] = {
    val cap = ClosedLoop.CapFactor * seconds
    val windows =
      if (phase == "traced") loop(phase, 0, 0, tailOps, tailOps, cap)
      else loop(phase, 0, seconds, tailOps, Int.MaxValue, cap)
    out.write(BenchMain.json("kind" -> "window", "phase" -> phase, "seconds" -> seconds))
    windows
  }

  def setupLayers: Map[String, Double] = setupMs.toMap

  protected def seed(node: String): DataFrame = {
    import spark.implicits._
    Seq(node).toDF("node")
  }

  protected def action[T](body: => T): T = trace.span("spark.action")(body)

  protected def traverseLayers(ops: Map[String, (Long, Long)]): Map[String, Double] = {
    val (calls, msPerCall, jobs) = Trace.spanStats(trace, "traverse.expand", ops)
    Map("traverse.calls" -> calls.toDouble, "traverse.ms_per_call" -> msPerCall,
      "traverse.jobs_per_call" -> (if (calls == 0) 0.0 else jobs.sum.toDouble / calls))
  }
}

object ClosedLoop {
  /** A window stops after this many times its seconds even short of its ops. */
  val CapFactor = 3.0
  /** The warm-up loop stops after this many seconds even short of its ops. */
  val WarmCapS = 30.0
}

/** Decisions against the static graph: delegation expansion (r1/r5/j8),
  * prepared WoT path count (r3) and ABAC decision (r4).
  */
final class AuthzRead(c: Ctx) extends ClosedLoop(c) {
  import c._
  private var pq: Prepared.PreparedQuery = _

  def setup(): Unit = {
    timedSetup("tables.resolve_ms") {
      Seq("region", "nation", "customer", "orders", "lineitem").foreach(Tables(spark, sf, _))
    }
    timedSetup("prepared.prepare_ms") { pq = Prepared.wotPathCount(spark, sf) }
    warmUp()
  }

  private def edges: DataFrame =
    trace.span("graphdata.hierarchyEdges")(GraphData.hierarchyEdges(spark, sf))

  def exec(op: Array[String]): String = op(0) match {
    case "r1" =>
      val walk = trace.span("traverse.expand")(
        Traverse.expand(seed(op(1)), edges, maxDepth = 3))
      action(walk.groupBy(col("lvl")).agg(count(lit(1)).as("n")).collect())
        .map(r => s"${r.getInt(0)}:${r.getLong(1)}").sorted.mkString(";")
    case "r5" =>
      val walk = trace.span("traverse.expand")(Traverse.expand(seed(op(1)), edges, maxDepth = 4))
      action(walk.groupBy(col("child_type"), col("lvl")).agg(count(lit(1)).as("n")).collect())
        .map(r => s"${r.getString(0)}@${r.getInt(1)}:${r.getLong(2)}").sorted.mkString(";")
    case "j8" =>
      val drones = trace.span("traverse.expand")(Traverse.expand(seed(op(1)), edges, maxDepth = 3))
        .filter(col("child_type") === "Order").select(col("node"))
      val vc = Tables.lineitem(spark, sf)
        .select(concat(lit("O"), col("l_orderkey").cast("string")).as("onode"))
      action(drones.join(vc, drones("node") === vc("onode")).count()).toString
    case "wot" =>
      val df = trace.span("prepared.bind")(
        pq.bind(Map("client" -> op(1), "anchor" -> op(2), "length" -> op(3).toInt)))
      action(df.collect()(0).getLong(0)).toString
    case "abac" =>
      val users = op(1).split(",").toSeq
      val member = GraphData.abacMember(spark, sf)
        .filter(col("user_id").isin(users: _*))
        .select(col("user_id"), col("group_id").as("node"))
      val closure = trace.span("closure.closureAuto")(
        Closure.closureAuto(GraphData.abacSubgroup(spark, sf), maxDepth = 10))
        .getOrElse(sys.error("ABAC subgroup chain exceeds the closure caps"))
      val perm = GraphData.abacPermission(spark, sf).filter(col("resource_id") === op(2))
      val walked = closure.join(perm, closure("dst") === perm("group_id"))
        .select(col("src"), col("n_paths"))
      val self = perm.select(col("group_id").as("src"), lit(1L).as("n_paths"))
      val rows = action(member.join(broadcast(walked.unionByName(self)),
          member("node") === col("src"))
        .groupBy(col("user_id")).agg(sum(col("n_paths")).as("n")).collect())
      val granted = rows.map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
      if (granted.isEmpty) "-" else granted.mkString(",")
  }

  def layers(ops: Map[String, (Long, Long)]): Map[String, Double] = {
    val (calls, msPerCall, jobs) = Trace.spanStats(trace, "closure.closureAuto", ops)
    val (_, bindMs, _) = Trace.spanStats(trace, "prepared.bind", ops)
    traverseLayers(ops) ++ Map(
      "closure.calls" -> calls.toDouble,
      "closure.ms_per_call" -> msPerCall,
      "closure.memo_hit_frac" -> (if (calls == 0) 0.0 else jobs.count(_ == 0).toDouble / calls),
      "prepared.bind_ms" -> bindMs)
  }
}

/** Per-region credential audit: walk the region's subtree, verify every
  * reached customer's stored VC.
  */
final class VcAudit(c: Ctx) extends ClosedLoop(c) {
  import c._
  private val kp = CryptoFunctions.seededKeyPair("Ed25519", 7L)
  private val pub = kp.getPublic.getEncoded
  private var vcs: DataFrame = _
  private var issued = 0L
  private val verifications = spark.sparkContext.longAccumulator("perfbench.verifications")

  def setup(): Unit = {
    timedSetup("tables.resolve_ms") {
      Seq("region", "nation", "customer", "orders", "lineitem").foreach(Tables(spark, sf, _))
    }
    timedSetup("functions.issue_ms") {
      val priv = kp.getPrivate.getEncoded
      val issuer = DidVc.mintDid("issuer-fixture")
      val sign = udf((custkey: Long) =>
        DidVc.signVc(
          DidVc.buildVcDoc(s"VC$custkey", issuer, DidVc.mintDid(s"C$custkey"),
            s"M$custkey", s"D$custkey", "2024-01-01T00:00:00Z"),
          priv, "2024-01-01T00:00:00Z", s"$issuer#key-1")).asNondeterministic()
      vcs = Tables.customer(spark, sf).repartition(cores)
        .select(concat(lit("C"), col("c_custkey").cast("string")).as("vnode"),
          sign(col("c_custkey")).as("vc_json"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      issued = vcs.count()
    }
    warmUp()
  }

  // Counts rows fed to the verify UDF; only in the traced window, so the
  // untraced plan is exactly the program's.
  private val counted = VcAudit.counting(verifications)

  def exec(op: Array[String]): String = {
    val reached = trace.span("traverse.expand")(
        Traverse.expand(seed(op(1)), GraphData.hierarchyEdges(spark, sf), maxDepth = 2))
      .filter(col("child_type") === "Customer").select(col("node"))
    val verify = DidVc.verify_vc_udf(pub)
    val vc = if (trace.enabled) counted(col("vc_json")) else col("vc_json")
    val r = action(reached.join(vcs, reached("node") === vcs("vnode"))
      .select(verify(vc).as("ok"))
      .agg(count(lit(1)), sum(when(col("ok"), 1L).otherwise(0L))).collect()(0))
    s"reached=${r.getLong(0)};verified=${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  override def setupLayers: Map[String, Double] =
    super.setupLayers ++ Map("functions.issue_ms_per_cred" ->
      setupMs("functions.issue_ms") / math.max(issued, 1L))

  def layers(ops: Map[String, (Long, Long)]): Map[String, Double] = {
    val n = verifications.value.toDouble
    val busy = trace.tasks.asScala.filter(t => ops.contains(t.op)).map(_.runMs).sum
    traverseLayers(ops) ++ Map(
      "functions.verifications" -> n,
      "functions.verify_task_ms_per_cred" -> (if (n == 0) 0.0 else busy / n))
  }
}

object VcAudit {
  def counting(acc: org.apache.spark.util.LongAccumulator) =
    udf((s: String) => { acc.add(1L); s }).asNondeterministic()
}

/** Open loop: one generator thread drops Debezium change batches into the
  * CdcStream file source on a fixed schedule; the stream's foreachBatch
  * merges each micro-batch into the snapshot and checks the change is
  * visible with a chain count on the new snapshot.
  */
final class TopologyCdc(c: Ctx) extends Workload {
  import c._
  import TopologyCdc._

  // batches.tsv: line 0 = "period<TAB>ms<TAB>warm<TAB>n"; then k, depth, events.
  private val lines = BenchMain.readOps(s"$runDir/batches.tsv")
  private val periodMs = lines.head(1).toDouble
  private val warmBatches = lines.head(3).toInt
  private val batches = lines.tail.map(l => Batch(l(0).toInt, l(1).toInt, l(2)))
  private val dir = s"$runDir/cdc"
  private val handle = new CdcStream.SnapshotHandle(spark)
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private val setupMs = mutable.Map[String, Double]()

  private val genOfTs = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
  private val dueNs = new java.util.concurrent.ConcurrentHashMap[Integer, Long]()
  private val visibleNs = new java.util.concurrent.ConcurrentHashMap[Integer, Long]()
  @volatile private var lastGen = -1
  @volatile private var mbCount = 0
  @volatile private var phaseNow = "warmup"
  private val mbWindows = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  def setup(): Unit = {
    Seq("in", "ck", "tmp").foreach(d => Files.createDirectories(Paths.get(s"$dir/$d")))
    var t0 = System.nanoTime()
    Tables(spark, sf, "customer")
    setupMs("tables.resolve_ms") = BenchMain.ms(System.nanoTime() - t0)
    t0 = System.nanoTime()
    handle.set(DynamicReplay.baseDelegation(spark, sf)
      .select(col("drone_id").as("id"), col("hq_id").as("name")))
    val parsed = CdcStream.parse(CdcStream.source(spark,
      GraftConfig(cdcSource = "file", cdcSourcePath = s"$dir/in")))
    query = parsed.writeStream
      .option("checkpointLocation", s"$dir/ck")
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch) }
      .start()
    setupMs("streaming.start_ms") = BenchMain.ms(System.nanoTime() - t0)
    // Warm-up: the first batch alone, then the rest on the schedule.
    schedule("warmup", Seq(0))
    schedule("warmup", 1 until warmBatches)
    require((0 until warmBatches).forall(visibleNs.containsKey(_)),
      "a warm-up change batch never became visible")
    nextK = warmBatches
  }

  private def emit(b: Batch, due: Long): Unit = {
    val ts = trace.nanoToEpochMs(due)
    genOfTs.put(ts, b.k)
    dueNs.put(b.k, due)
    val body = b.events.split("\\|").map { e =>
      val Array(op, id, name) = e.split(":", 3)
      val row = Map("id" -> id.toLong, "name" -> name)
      val (before, after) = if (op == "d") (row, null) else (null, row)
      BenchMain.json("payload" -> Map("after" -> after, "before" -> before, "op" -> op,
        "source" -> Map("connector" -> "perfbench", "db" -> "graftdb", "table" -> "delegation"),
        "ts_ms" -> ts))
    }.mkString("", "\n", "\n")
    val tmp = Paths.get(f"$dir/tmp/batch-${b.k}%06d.json")
    Files.writeString(tmp, body)
    Files.move(tmp, Paths.get(f"$dir/in/batch-${b.k}%06d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def onBatch(batch: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val id = s"mb-$mbCount"
    mbCount += 1
    trace.beginOp(spark, id)
    var first = -1
    var last = -1
    val ans = try trace.span("op") {
      val info = trace.span("streaming.batch_info")(
        batch.agg(max(col("ts_ms")), count(lit(1))).collect()(0))
      if (info.getLong(1) == 0L) "" else {
        first = lastGen + 1
        last = genOfTs.get(info.getLong(0))
        trace.span("streaming.merge")(
          handle.set(CdcStream.mergeCdcBatch(handle.get(spark), batch)))
        trace.span("scenario.chain") {
          val deleg = handle.snapshot.select(col("id").as("drone_id"), col("name").as("hq_id"))
          val df = trace.span("traverse.expand")(
            DynamicReplay.chainCount(spark, deleg, batches(last).depth))
          trace.span("spark.action")(df.collect()(0).getLong(0)).toString
        }
      }
    } catch { case NonFatal(e) => BenchMain.errorAnswer(e) }
    val t1 = System.nanoTime()
    trace.endOp(spark)
    if (last >= 0) {
      (first to last).foreach(k => visibleNs.put(k, t1))
      lastGen = last
      mbWindows.put(id, (t0, t1))
      out.write(BenchMain.json("kind" -> "mb", "phase" -> phaseNow, "op" -> id, "first" -> first,
        "last" -> last, "start_ns" -> t0, "end_ns" -> t1, "answer" -> ans))
    }
  }

  private def awaitVisible(ks: Seq[Int], timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!ks.forall(visibleNs.containsKey) && System.nanoTime() < deadline &&
        query.isActive) Thread.sleep(2)
  }

  private var nextK = 0

  def run(phase: String, seconds: Double): Map[String, (Long, Long)] = {
    val n = math.max(1, (seconds * 1000 / periodMs).toInt)
    val ks = nextK until nextK + n
    nextK += n
    require(ks.last < batches.size, s"batches.tsv holds ${batches.size} batches, need ${ks.last + 1}")
    schedule(phase, ks)
  }

  /** Emit batches `ks` one period apart from a generator thread, wait until
    * they are visible (or the drain time is up) and record them.
    */
  private def schedule(phase: String, ks: Seq[Int]): Map[String, (Long, Long)] = {
    val n = ks.size
    phaseNow = phase
    mbWindows.clear()
    val start = System.nanoTime() + 20000000L
    val periodNs = (periodMs * 1e6).toLong
    val emitNs = new java.util.concurrent.ConcurrentHashMap[Integer, Long]()
    val gen = new Thread(() => ks.zipWithIndex.foreach { case (k, j) =>
      val due = start + j * periodNs
      var now = System.nanoTime()
      while (now < due) { Thread.sleep(math.max(0L, (due - now) / 1000000L)); now = System.nanoTime() }
      emit(batches(k), due)
      emitNs.put(k, System.nanoTime())
    }, "perfbench-gen")
    gen.setDaemon(true)
    gen.start()
    val scheduleEnd = start + n * periodNs
    awaitVisible(ks, n * periodMs / 1000.0 + DrainS)
    gen.join()
    val backlog = ks.count(k => !visibleNs.containsKey(k) || visibleNs.get(k) > scheduleEnd)
    ks.foreach { k =>
      out.write(BenchMain.json("kind" -> "gen", "phase" -> phase, "k" -> k,
        "due_ns" -> dueNs.get(k), "emit_ns" -> emitNs.get(k),
        "visible_ns" -> Option(visibleNs.get(k)).getOrElse(-1L)))
    }
    out.write(BenchMain.json("kind" -> "window", "phase" -> phase, "seconds" -> n * periodMs / 1000.0,
      "backlog_end" -> backlog,
      "late_ms_max" -> ks.map(k => (emitNs.get(k) - dueNs.get(k)) / 1e6).max))
    mbWindows.asScala.toMap
  }

  def setupLayers: Map[String, Double] = setupMs.toMap

  def layers(ops: Map[String, (Long, Long)]): Map[String, Double] = {
    def mean(name: String): Double = Trace.spanStats(trace, name, ops)._2
    val (calls, msPerCall, jobs) = Trace.spanStats(trace, "traverse.expand", ops)
    val progress = trace.progress.asScala.toSeq
    def dur(k: String): Double =
      if (progress.isEmpty) 0.0 else progress.map(_.durations.getOrElse(k, 0L)).sum.toDouble / progress.size
    Map(
      "traverse.calls" -> calls.toDouble, "traverse.ms_per_call" -> msPerCall,
      "traverse.jobs_per_call" -> (if (calls == 0) 0.0 else jobs.sum.toDouble / calls),
      "streaming.merge_ms" -> mean("streaming.merge"),
      "scenario.chain_ms" -> mean("scenario.chain"),
      "streaming.rows_per_batch" ->
        (if (progress.isEmpty) 0.0 else progress.map(_.rows).sum.toDouble / progress.size),
      "streaming.snapshot_rows" -> handle.snapshot.count().toDouble,
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.latest_offset_ms" -> dur("latestOffset"))
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination(30000L)
  }
}

object TopologyCdc {
  /** How long the open loop may run past its schedule to drain. */
  val DrainS = 30.0
  final case class Batch(k: Int, depth: Int, events: String)
}
