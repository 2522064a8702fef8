package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   Main --workload catchup|trickle|cells --seed N --seconds S --trace 0|1
  *        --scratch DIR --cores N --out FILE --data DIR [--toy 1] [--corrupt GATE]
  *
  * Writes one JSON result to `--out`: metrics by name with units, the
  * correctness checks, the session configuration, the input fingerprint
  * and, when traced, the per-layer metrics and the spans.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(o("workload"), o("seed").toLong, o("seconds").toDouble,
      new Trace(o("trace") == "1"), o("scratch"), o("cores").toInt,
      o.get("toy").contains("1"), o.getOrElse("corrupt", ""))
    val res = new Result
    ctx.workload match {
      case "catchup" => Catchup.run(ctx, res)
      case "trickle" => Trickle.run(ctx, res)
      case "cells" => Cells.run(ctx, res, o("data"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res.metric("heap_peak_mb", Common.HeapPeak.mb, "MB")
    if (ctx.traced) {
      Layers.all.foreach { case (n, u) => if (!res.layers.contains(n)) res.layer(n, 0.0, u) }
      res.layer("trace.unattributed_share", ctx.trace.unattributedShare, "ratio")
      // the traced run's own end-to-end numbers, beside the untraced runs'
      res.metrics.foreach { case (n, (v, u)) => res.layer(s"trace.$n", v, u) }
    }
    val out = Map(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> ctx.traced,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "checks" -> res.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "metrics" -> res.metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) },
      "layers" -> res.layers.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) },
      "info" -> res.info,
      "spans" -> (if (ctx.traced) ctx.trace.spansJson else Nil))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(o("out")), mapper.writeValueAsBytes(out))
  }
}
