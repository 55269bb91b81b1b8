package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{Caches, Sessions}
import graft.sources.AuxGen
import graft.tpch.TpchGen
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds this, prepares
  * the inputs once per checkout (`prepare`), runs one workload per
  * invocation (`run`) and turns the raw timings this prints into the
  * reported metrics.
  *
  *   prepare <dataDir> <tpchSf> <llmSf>
  *   run <workload> <dataDir> <outDir> <seed> <passes> <trace 0|1> <cpus> <setups> <sf>
  *
  * `sf` is the scale factor of the LLM corpus for `llm`, of the
  * generator's writes for `tpch`.
  *
  * Every measurement goes through the program's public entry points;
  * nothing in the program is changed or patched.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "prepare" :: data :: tpchSf :: llmSf :: Nil =>
      prepare(data, tpchSf.toDouble, llmSf.toDouble)
    case "run" :: w :: data :: out :: seed :: passes :: trace :: cpus :: setups :: sf :: Nil =>
      run(w, data, out, seed.toLong, passes.toInt, trace == "1", cpus.toInt, setups.toInt,
        sf.toDouble)
    case _ =>
      System.err.println("usage: prepare <dataDir> <tpchSf> <llmSf> | " +
        "run <workload> <dataDir> <outDir> <seed> <passes> <trace> <cpus> <setups> <sf>")
      sys.exit(2)
  }

  def tpchDir(data: String): String = s"$data/tpch"
  /** The LLM keys take a testdata-style directory, one per scale factor. */
  def llmDir(data: String, sf: Double): String = s"$data/llm/sf$sf"

  /** Generates the TPC-H corpus and the documents/embeddings corpus with
    * the program's generators, and writes each oracle's SQL text so the
    * reference results can be computed outside the JVM. */
  def prepare(data: String, tpchSf: Double, llmSf: Double): Unit = {
    val spark = Sessions.local("graft-perfbench-prepare", Runtime.getRuntime.availableProcessors)
    try {
      TpchGen.persistAll(spark, tpchSf, tpchDir(data))
      AuxGen.persistAll(spark, llmSf, llmDir(data, llmSf))
      val oracles =
        (Workloads.TpchKeys ++ Workloads.LlmKeys :+ "gen_rowcounts").map { k =>
          k -> graft.Registry.byName(k).oracle.getOrElse(sys.error(s"$k has no oracle"))
        }
      write(s"$data/oracles.json", Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }))
    } finally spark.stop()
  }

  private def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }

  private def ms(): Long = System.currentTimeMillis()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def run(wName: String, data: String, out: String, seed: Long, passes: Int,
      trace: Boolean, cpus: Int, setups: Int, sf: Double): Unit = {
    val w = wName match {
      case "tpch" => Workloads.tpch(tpchDir(data), sf)
      case "llm" => Workloads.llm(llmDir(data, sf))
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up, `setups` times, each on a fresh context: session start
    // and catalog registration. The first one also pays the JVM's
    // class loading; run.py reports the median of the others.
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var sessions: Seq[SparkSession] = Nil
    for (_ <- 0 until setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local("graft-perfbench", cpus)
      sessionS += secs(t0)
      sessions = w.register(spark)
      setupS += secs(t0)
    }
    val sc = spark.sparkContext

    // Warm-up: every operation once on the cold JVM, untimed as a pass,
    // with the same cache discipline as a timed pass.
    val warmupErrors = mutable.LinkedHashMap.empty[String, String]
    val tw = System.nanoTime()
    Caches.releaseMemos()
    w.ops.foreach { op =>
      Caches.release()
      try Workloads.sink(op.build(spark), s"$out/warmup/${op.name}.parquet")
      catch { case e: Throwable => warmupErrors(op.name) = String.valueOf(e) }
    }
    val warmupS = secs(tw)

    // Timed passes: closed loop, one client, operations back to back in
    // a seed-permuted order. In a traced run every other pass carries
    // the listeners, so the same run measures traced and untraced passes.
    val tracer = new Tracer
    val passLines = mutable.ArrayBuffer.empty[String]
    val spans = mutable.ArrayBuffer.empty[Span]
    var attempted = 0L
    for (p <- 0 until passes) {
      val traced = trace && p % 2 == 1
      // the sessions the operations run in are watched before the first
      // one is built, so builders' eager jobs and plans are traced too
      if (traced) { sc.addSparkListener(tracer); sessions.foreach(tracer.watch) }
      val ops = new scala.util.Random(seed * 1000003L + p).shuffle(w.ops)
      val passDir = s"$out/pass$p"
      val opWall = mutable.LinkedHashMap.empty[String, Double]
      val opFailed = mutable.ArrayBuffer.empty[String]
      val passSpans = mutable.ArrayBuffer.empty[Span]
      var released = 0L
      var releaseS = 0.0
      val tp = System.nanoTime()
      released += Caches.releaseMemos()
      releaseS += secs(tp)
      ops.zipWithIndex.foreach { case (op, i) =>
        val id = s"p$p.$i.${op.name}"
        val r1 = System.nanoTime()
        released += Caches.release()
        releaseS += secs(r1)
        if (traced) { tracer.begin(id); sc.setJobGroup(id, op.name) }
        val a = ms()
        val t0 = System.nanoTime()
        var b = a
        attempted += 1
        try {
          val df = op.build(spark)
          b = ms()
          // a builder may return a frame of a conf-scoped child session
          // (`Sessions.childWith`) that no set-up created
          if (traced) tracer.watch(df.sparkSession)
          Workloads.sink(df, s"$passDir/${op.name}.parquet")
        } catch {
          case e: Throwable =>
            opFailed += op.name
            System.err.println(s"[perfbench] ${op.name} failed: $e")
        }
        opWall(op.name) = secs(t0)
        if (traced) {
          val z = ms()
          sc.clearJobGroup()
          ListenerBusDrain(sc)
          passSpans ++= opSpans(id, a, b, z, tracer.drainSpans(id))
        }
      }
      val wall = secs(tp)
      if (traced) {
        sc.removeSparkListener(tracer)
        tracer.unwatchAll()
      }
      val counters = ops.indices.map(i => tracer.countersOf(s"p$p.$i.${ops(i).name}"))
      spans ++= passSpans
      passLines += Json.obj(Seq(
        "traced" -> traced.toString,
        "wall_s" -> Json.num(wall),
        "op_s" -> Json.obj(opWall.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "failed" -> Json.arr(opFailed.map(Json.str).toSeq),
        "released" -> released.toString,
        "release_s" -> Json.num(releaseS),
        "files" -> parquetFiles(passDir).toString) ++
        (if (traced) Seq("layers" -> layers(passSpans.toSeq, counters)) else Nil))
    }
    if (trace) {
      write(s"$out/spans.jsonl", spans.map(s => Json.obj(Seq(
        "op" -> Json.str(s.op), "id" -> Json.str(s.id), "name" -> Json.str(s.name),
        "start_ms" -> s.start.toString, "end_ms" -> s.end.toString,
        "parent" -> Json.str(s.parent)))).mkString("", "\n", "\n"))
    }
    val report = Json.obj(Seq(
      "ops" -> Json.arr(w.ops.map(o => Json.str(o.name))),
      "setup_s" -> Json.arr(setupS.map(Json.num).toSeq),
      "session_s" -> Json.arr(sessionS.map(Json.num).toSeq),
      "warmup_s" -> Json.num(warmupS),
      "warmup_errors" -> Json.obj(warmupErrors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "attempted" -> attempted.toString,
      "warmup_dir" -> Json.str(s"$out/warmup"),
      "pass_dirs" -> Json.arr((0 until passes).map(p => Json.str(s"$out/pass$p"))),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "passes" -> Json.arr(passLines.toSeq)))
    spark.stop()
    println("PERFBENCH " + report)
  }

  private def parquetFiles(dir: String): Long =
    if (!Files.isDirectory(Paths.get(dir))) 0L
    else {
      val s = Files.walk(Paths.get(dir))
      try s.filter(_.toString.endsWith(".parquet")).filter(Files.isRegularFile(_)).count()
      finally s.close()
    }

  /** The spans of one operation: the operation, its build, and what the
    * listeners saw, re-parented by time: plan phases and jobs that
    * started while the frame was being built belong to the build, the
    * rest to plan phases of the write and to execution. */
  private def opSpans(id: String, a: Long, b: Long, z: Long,
      seen: Seq[Span]): Seq[Span] = {
    val phases = seen.filter(s => s.name == "optimize" || s.name == "physical")
    val planEnd = (phases.filter(_.start >= b).map(_.end) :+ b).max
    val exec = Span(id, s"$id/execute", "execute", planEnd, z, id)
    val build = Span(id, s"$id/build", "build", a, b, id)
    Seq(Span(id, id, "op", a, z, ""), build, exec) ++ seen.map { s =>
      val parent = s.name match {
        case "stage" => if (s.parent.isEmpty) exec.id else s"$id/${s.parent}"
        case "job" => if (s.start < b) build.id else exec.id
        case _ => if (s.start < b) build.id else id
      }
      s.copy(id = s"$id/${s.id}", parent = parent)
    }
  }

  /** Per-layer sums of one traced pass. */
  private def layers(spans: Seq[Span], cs: Seq[Counters]): String = {
    def sum(f: Counters => Long): Long = cs.map(f).sum
    def dur(name: String): Double = spans.filter(_.name == name).map(_.dur).sum / 1e3
    val self = Tracer.selfTimes(spans)
    Json.obj(Seq(
      "build_s" -> Json.num(dur("build")),
      "optimize_s" -> Json.num(dur("optimize")),
      "physical_s" -> Json.num(dur("physical")),
      "execute_s" -> Json.num(dur("execute")),
      "op_s" -> Json.num(dur("op")),
      "jobs" -> sum(_.jobs).toString,
      "stages" -> sum(_.stages).toString,
      "tasks" -> sum(_.tasks).toString,
      "task_s" -> Json.num(sum(_.taskMs) / 1e3),
      "task_cpu_s" -> Json.num(sum(_.taskCpuNs) / 1e9),
      "gc_s" -> Json.num(sum(_.gcMs) / 1e3),
      "shuffle_write_b" -> sum(_.shuffleWrite).toString,
      "shuffle_read_b" -> sum(_.shuffleRead).toString,
      "fetch_wait_s" -> Json.num(sum(_.fetchWaitMs) / 1e3),
      "spill_b" -> sum(_.spill).toString,
      "output_b" -> sum(_.outputBytes).toString,
      "scan_b" -> sum(_.scanBytes).toString,
      "scan_files" -> sum(_.scanFiles).toString,
      "spans" -> spans.size.toString,
      "self_s" -> Json.obj(self.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v / 1e3) })))
  }
}

/** Minimal JSON writer for the report line (values are pre-rendered). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
