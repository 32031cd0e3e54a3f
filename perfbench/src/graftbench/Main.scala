package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Runs one workload: set-up (repeated), warm-up ops until the JIT has
  * settled, then ops in a closed loop for the given seconds. Untraced, it
  * then runs a few ops under the [[Memory]] sampler and reports the
  * end-to-end metrics. Traced, it traces every other cycle of ops, reports the per-layer
  * metrics from the traced ops and the tracing overhead against the
  * untraced ones, and writes the spans.
  *
  * Usage: Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *   --lineitem FILE [--spans FILE] [--commit SHA] [--source SHA256]
  *
  * The last line is `PERFBENCH_RESULT {json}`; the exit code is 1 when any
  * output check failed.
  */
object Main {
  val MinOps = 2

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val traced = a.getOrElse("trace", "0") == "1"
    val ctx = Ctx(a("seed").toLong, a("seconds").toDouble, traced,
      Runtime.getRuntime.availableProcessors, a("work"), a("lineitem"))
    new java.io.File(ctx.work).mkdirs()
    val w = Workload.create(a("workload"), ctx)
    val ops = ArrayBuffer[OpRec]()
    var nextId = 1L
    val started = System.nanoTime()

    /** Ops until `seconds` have passed and at least `minOps` ran, in whole
      * cycles. With `trace`, every other cycle is traced, so traced and
      * untraced ops see the same warm-up state.
      */
    def loop(seconds: Double, trace: Boolean, minOps: Int = MinOps): Seq[(OpRec, Boolean)] = {
      val out = ArrayBuffer[(OpRec, Boolean)]()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (out.size < math.max(minOps, w.cycle) || out.size % w.cycle != 0 ||
          System.nanoTime() < deadline) {
        val id = nextId
        nextId += 1
        val traceThis = trace && (out.size / w.cycle) % 2 == 1
        val t0 = System.nanoTime()
        Trace.enabled = traceThis
        val rec = try w.op(id) catch {
          case e: Exception =>
            OpRec(id, "failed", 0L, System.nanoTime() - t0, Some(e.toString))
        } finally Trace.enabled = false
        out += ((rec, traceThis))
      }
      out.toSeq
    }

    val failed = try {
      val marks = ArrayBuffer(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
      def mark(): Unit = marks += marks.head + (System.nanoTime() - started) / 1e9
      val setup = (0 until w.setupReps).map { r =>
        val t0 = System.nanoTime()
        w.setup(r)
        (System.nanoTime() - t0) / 1e9
      }
      w.beforeOps()
      mark()
      ops ++= loop(0, trace = false, minOps = w.warmupOps).map(_._1)
      mark()
      if (traced) w.startTrace()
      val run = loop(ctx.seconds, traced)
      ops ++= run.map(_._1)
      mark()
      // untraced runs only: the memory ops' forced collections would show in the spans
      val memory = if (traced) None else Some(Memory.peakLiveMb {
        ops ++= loop(0, trace = false, minOps = w.memoryOps).map(_._1)
      })
      mark()
      val plain = run.collect { case (o, false) => o }
      val tracedOps = run.collect { case (o, true) => o }
      val bad = ops.filterNot(_.ok)
      bad.foreach(o => println(s"perfbench FAILED op ${o.id} (${o.kind}): ${o.error.get}"))
      val good = plain.filter(_.ok)
      val e2e =
        if (good.isEmpty) Map.empty[String, Double]
        else w.endToEnd(good) ++ Map("setup_s" -> Workload.median(setup)) ++
          memory.map("peak_memory_mb" -> _._1)

      val header = ListMap(
        "workload" -> w.name, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "trace" -> (if (traced) 1 else 0), "nproc" -> ctx.cores,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "spark" -> org.apache.spark.SPARK_VERSION,
        "commit" -> a.get("commit").orNull, "source_sha256" -> a.get("source").orNull,
        "inputs" -> ListMap(w.inputs: _*))
      println(s"perfbench header ${Data.Json.writeValueAsString(header)}")
      println(f"perfbench setup_s per repetition: ${setup.map(s => f"$s%.3f").mkString(" ")}")
      println("perfbench phase walls (s): " + Seq("JVM start", "set-up", "warm-up", "measured",
        "memory").zip(marks.head +: marks.zip(marks.tail).map { case (a, b) => b - a })
        .map { case (n, s) => f"$n $s%.1f" }.mkString(", "))
      val memoryOps = if (traced) 0 else w.memoryOps
      println(s"perfbench ops: ${ops.size} attempted, ${bad.size} failed " +
        s"(warm-up ${ops.size - run.size - memoryOps}, untraced ${plain.size}, " +
        s"traced ${tracedOps.size}, memory $memoryOps)")
      memory.foreach { case (mb, n) =>
        println(f"perfbench peak live memory $mb%.1f MB, max of $n forced collections") }
      ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
        println(s"perfbench $k op walls (ms): " + os.map(o => f"${o.wallNs / 1e6}%.0f").mkString(" "))
      }
      if (good.nonEmpty) w.report(e2e, good).foreach { case (n, v, u) =>
        println(f"perfbench $n%-24s $v%14.3f $u")
      }
      println(f"perfbench ${"failed_frac"}%-24s ${bad.size.toDouble / ops.size}%14.3f failed/attempted")

      val metrics =
        if (!traced) e2e
        else {
          val tgood = tracedOps.filter(_.ok)
          val layers = w.layers(tgood)
          val spans = Trace.all
          val key = "throughput_mb_per_s"
          val overhead =
            e2e.get(key).fold(Double.NaN)(_ / w.endToEnd(tgood)(key) - 1)
          a.get("spans").foreach { p =>
            Trace.write(p, header)
            println(s"perfbench spans written to $p")
          }
          println("perfbench self time by span name (total ms, self ms):")
          Trace.selfByName(spans).take(16).foreach { case (n, total, self) =>
            println(f"perfbench   $n%-20s ${total / 1e6}%12.1f ${self / 1e6}%12.1f")
          }
          layers ++ Map(
            "trace.coverage" -> Trace.coverage(spans, n => LayerPrefixes.exists(n.startsWith)),
            "trace.overhead_frac" -> overhead)
        }
      val result = ListMap(
        "correct" -> (bad.isEmpty && metrics.nonEmpty),
        "attempted" -> ops.size, "failed" -> bad.size,
        "metrics" -> ListMap(metrics.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> (if (v.isNaN || v.isInfinite) null else v) }: _*))
      println("PERFBENCH_RESULT " + Data.Json.writeValueAsString(result))
      bad.size
    } finally w.close()
    System.exit(if (failed == 0) 0 else 1)
  }

  /** Span names that belong to a layer of the program (not benchmark plumbing). */
  val LayerPrefixes: Seq[String] = Seq("spark.", "source.", "bridge.", "file.", "columns.",
    "rle.", "io.", "fsst.", "stats.", "compress.")
}
