package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** What one run hands back to `run.py`: raw timing samples, per-unit
  * layer values (one per pass or batch; `run.py` takes their medians),
  * environment facts, and the outcome of every output check.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def layer(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Records one checked operation; `ok = false` counts it as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 50) failures += what
    }
  }

  def json: String = JsonMapper.builder().addModule(DefaultScalaModule).build()
    .writeValueAsString(Map("attempted" -> attempted, "failed" -> failed,
      "failures" -> failures, "samples" -> samples, "layers" -> layers, "info" -> info))
}
