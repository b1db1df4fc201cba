package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import java.io.File
import java.nio.file.{Files, Path}

/** The output contract of the mains that share [[Battery]]: `Bench.run`'s
  * full line, out file and summary, `Verify.run`'s dump layout and audit
  * rows, and the shared entry selection. Each runs in the suite's session on a
  * small subset at sf0.001, with every output under a temp directory.
  */
class BatterySpec extends SparkSpec {
  implicit private val formats: Formats = DefaultFormats

  private val passing = Seq("q1_pricing", "d_minhash_pairs")
  // reads region.parquet, which `sfWithEmptyRegion` empties
  private val failing = "q5_region_revenue"

  /** sf0.001 with an empty `region.parquet` directory: `failing` throws
    * (no schema to infer), `passing` runs.
    */
  private def sfWithEmptyRegion(): Path = {
    val d = Files.createTempDirectory("graft_battery_sf")
    new File(sf0001).listFiles().filter(_.getName != "region.parquet")
      .foreach(f => Files.createSymbolicLink(d.resolve(f.getName), f.toPath))
    Files.createDirectory(d.resolve("region.parquet"))
    d
  }

  private def withTemp[T](body: (Path, Path) => T): T = {
    val sf = sfWithEmptyRegion()
    val out = Files.createTempDirectory("graft_battery_out")
    try body(sf, out) finally {
      org.apache.commons.io.FileUtils.deleteDirectory(sf.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    }
  }

  private def keys(v: JValue): Set[String] = v match {
    case JObject(fields) => fields.map(_._1).toSet
    case other => fail(s"not a JSON object: $other")
  }

  test("Battery.select: run order is by name with p_* last; every entry by default; an unknown name fails") {
    val all = Battery.select(Nil).map(_._1)
    assert(all.toSet == SparkEntry.queries.keySet && all.size == SparkEntry.queries.size)
    val (cheap, pipelines) = all.partition(!_.startsWith("p_"))
    assert(pipelines.nonEmpty && all == cheap.sorted ++ pipelines.sorted)
    assert(Battery.select(Seq("q5_region_revenue", "p_backup_throughput", "q1_pricing"))
      .map(_._1) == Seq("q1_pricing", "q5_region_revenue", "p_backup_throughput"))
    val e = intercept[IllegalArgumentException](Battery.select(Seq("q1_pricing", "q1_pricng")))
    assert(e.getMessage.contains("q1_pricng"), e.getMessage)
  }

  test("Bench.run: prints the full line, returns the parseable summary main prints last; the full line and the out file hold every entry; a throwing entry is an error row") {
    withTemp { (sf, out) =>
      val outFile = out.resolve("bench_out.json")
      val stdout = new java.io.ByteArrayOutputStream()
      val summary = Console.withOut(stdout)(
        Bench.run(spark, sf.toString, passing :+ failing, outFile.toString, 123.4))
      val lines = stdout.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
      assert(lines.size == 1, lines.mkString("\n"))
      assert(!summary.contains("\n"), summary)

      val last = JsonMethods.parse(summary)
      for (k <- Seq("metric", "value", "queries", "n_errors", "total_cpu_sec", "cpus", "timing"))
        assert(last \ k != JNothing, s"summary has no $k: $summary")
      assert((last \ "n_errors").extract[Int] == 1)
      assert(keys(last \ "errors") == Set(failing))
      assert((last \ "cpus").extract[Int] == Battery.cpus)
      assert((last \ "timing").extract[String] == "best-of-2 over 1s")

      val full = JsonMethods.parse(lines.head)
      val entries = (passing :+ failing).toSet
      assert(keys(full \ "queries") == entries && keys(full \ "cpu_sec") == entries)
      assert(keys(full \ "errors") == Set(failing))
      assert((full \ "errors" \ failing).extract[String].contains("UNABLE_TO_INFER_SCHEMA"),
        (full \ "errors" \ failing).extract[String])
      val wall = (full \ "queries").extract[Map[String, Double]]
      assert(math.abs((full \ "value").extract[Double] - wall.values.sum) < 1e-9)
      assert(Files.readString(outFile) == lines.head + "\n")
    }
  }

  test("Verify.run: a dump per entry that ran, oracle_sql.json and auditRow-shaped audits.json; a throwing entry leaves no dump, not even an earlier one") {
    withTemp { (sf, out) =>
      // an earlier run's dump of the entry that now throws must not survive
      val stale = out.resolve(failing)
      Files.createDirectories(stale)
      Files.writeString(stale.resolve("part-0.parquet"), "stale")
      Verify.run(spark, sf.toString, out.toString, passing :+ failing)

      def parquetFiles(name: String): Seq[String] =
        Option(out.resolve(name).toFile.listFiles()).toSeq.flatten
          .map(_.getName).filter(_.endsWith(".parquet"))
      assert(parquetFiles("q1_pricing").nonEmpty)
      assert(spark.read.parquet(out.resolve("q1_pricing").toString).count() ==
        SparkEntry.queries("q1_pricing")(spark, sf0001).count())
      assert(!Files.exists(stale), "a failed entry must leave no dump")

      val oracle = JsonMethods.parse(Files.readString(out.resolve("oracle_sql.json")))
      assert(keys(oracle) == SparkEntry.oracleSql.keySet)

      val audits = JsonMethods.parse(Files.readString(out.resolve("audits.json")))
      assert(keys(audits) == Set("d_minhash_pairs"))
      val row = audits \ "d_minhash_pairs"
      assert(Set("column", "value", "floor", "above_floor", "gated").subsetOf(keys(row)))
      assert((row \ "column").extract[String] == "exact_pair_recall")
      assert((row \ "floor").extract[Double] == 0.9)
      // the dump is withheld exactly when the audit fails its floor
      assert(parquetFiles("d_minhash_pairs").nonEmpty == (row \ "above_floor").extract[Boolean])
    }
  }

  test("Verify.run: a misspelled subset name fails loudly and dumps nothing") {
    withTemp { (sf, out) =>
      val e = intercept[IllegalArgumentException](
        Verify.run(spark, sf.toString, out.toString, Seq("q1_pricing", "q1_pricng")))
      assert(e.getMessage.contains("q1_pricng"), e.getMessage)
      assert(out.toFile.list().isEmpty)
    }
  }
}
