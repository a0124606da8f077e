package perfbench

/** Runs one workload and prints two lines: a record of the run (host
  * resources, Spark settings, input sizes, the lifecycle-named metrics, the
  * output digest) and, last, the result object. Exits non-zero when a
  * correctness check failed. */
object Main {
  def main(argv: Array[String]): Unit = {
    val o = Opts.parse(argv)
    val spark = Session.create(o)
    val code = try {
      val c = new Ctx(spark, o)
      val out = o.workload match {
        case "assemble" => Assemble.run(c)
        case "serve" => Serve.run(c)
        case "supplement" => SupplementWorkload.run(c)
        case "curate" => CurateWorkload.run(c)
        case w => sys.error(s"unknown workload $w")
      }
      if (o.trace) c.tracer.dump(
        new java.io.File(c.work, s"spans/${c.tracer.runId}.jsonl").toPath)
      println(record(o, out, c.peakExecMb))
      println(result(o, out))
      if (out.failed == 0) 0 else 1
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    } finally spark.stop()
    sys.exit(code)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  def any(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => s"${str(k.toString)}:${any(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(any).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def metric(v: Double, unit: String): Map[String, Any] =
    Map("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> unit)

  def record(o: Opts, out: Outcome, peakMb: Double): String = {
    val named = out.named ++ Seq(
      ("setup_s", out.e2e.find(_._1 == "setup_s").map(_._2).getOrElse(0.0), "s"),
      ("fail_frac", out.failed.toDouble / math.max(1L, out.attempted), "ratio"),
      ("peak_exec_mem_mb", peakMb, "MB"))
    "{\"record\":" + any(Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "scale" -> o.scale, "commit" -> o.commit,
      "nproc" -> o.cores, "heap_mb" -> o.heapMb, "phys_mb" -> o.physMb,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "spark_confs" -> Session.confs(o).toMap,
      "sizes" -> out.sizes,
      "metrics" -> named.map { case (k, v, u) => k -> metric(v, u) }.toMap,
      "digest" -> out.digest, "traced_digest" -> out.tracedDigest,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "failures" -> out.failures)) + "}"
  }

  def result(o: Opts, out: Outcome): String = {
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) out.e2e
      else Layers.metrics.map { case (k, u) => (k, out.layers.getOrElse(k, 0.0), u) }
    val body = metrics.map { case (k, v, u) =>
      s"${str(k)}:{\"value\":${num(if (v.isNaN || v.isInfinite) 0.0 else v)},\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":$body}"""
  }
}
