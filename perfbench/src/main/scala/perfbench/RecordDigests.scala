package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Records the expected digests the batch workloads are checked against.
  *
  * Usage: RecordDigests <dataDir> <verifyOutDir> <outFile> <q1,q2,...>
  *
  * `verifyOutDir` must hold `graft.Verify`'s parquet dumps of the same
  * queries over the same tables, already checked by `tools/oracle_check.py`.
  * Each query's digest is computed twice, from a fresh run and from its
  * oracle-checked dump, and recorded only if the two agree; so every
  * recorded digest is the digest of an oracle-green result. */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, verifyOut, outFile, names) = args
    val spark = graft.core.GraftSession.get("perfbench-digests")
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("provenance",
      "Each digest is the row count and order-independent hash (perfbench.Digest) " +
        "of the query's result over the tables in data/sf0.1; it equals the digest of " +
        "graft.Verify's parquet dump of the same query, which tools/oracle_check.py " +
        "compared value by value against DuckDB running the query's oracleSql.")
    val sums = root.putObject("data_sha256")
    Files.list(Paths.get(dataDir)).sorted().forEach { p =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      sums.put(p.getFileName.toString,
        md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString)
    }
    val ds = root.putObject("digests")
    var ok = true
    names.split(",").foreach { q =>
      val fresh = Digest.of(graft.SparkEntry.queries(q)(spark, dataDir))
      spark.sharedState.cacheManager.clearCache()
      val dumped = Digest.of(spark.read.parquet(s"$verifyOut/$q"))
      if (fresh != dumped) {
        System.err.println(s"[digests] $q: fresh run $fresh but oracle-checked dump $dumped")
        ok = false
      } else {
        val d = ds.putObject(q)
        d.put("rows", fresh.rows)
        d.put("hash", fresh.hash)
        System.err.println(s"[digests] $q: $fresh")
      }
    }
    spark.stop()
    if (!ok) sys.exit(1)
    Files.writeString(Paths.get(outFile),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
  }
}
