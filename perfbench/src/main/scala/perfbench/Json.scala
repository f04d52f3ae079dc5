package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The result line and the expected-digest file, via the Jackson that
  * ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Map[String, Metric]): String = {
    val root = mapper.createObjectNode()
    root.put("correct", correct)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val ms = root.putObject("metrics")
    metrics.toSeq.sortBy(_._1).foreach { case (name, Metric(v, unit)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
      val m = ms.putObject(name)
      m.put("value", v)
      m.put("unit", unit)
    }
    mapper.writeValueAsString(root)
  }
}

/** Expected result digests, recorded by [[RecordDigests]] from a tree whose
  * outputs pass the DuckDB oracle (see the file's `provenance`). */
object ExpectedDigests {
  def load(path: String): Map[String, Digest.Value] = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    val ds = root.get("digests")
    require(ds != null && ds.size() > 0, s"$path has no digests")
    ds.fieldNames().asScala.map { q =>
      val d = ds.get(q)
      q -> Digest.Value(d.get("rows").asLong(), d.get("hash").asText())
    }.toMap
  }
}
