package ppdbbench

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's own tests (`python3 perfbench/run.py --self-test`):
  * seeded generation is reproducible, the correctness check rejects a
  * corrupted expectation, and span self-times partition the root span.
  * Runs every test; exits non-zero if any failed.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def chunks(seed: Long, n: Int): Seq[GenChunk] = {
    // generation never touches Spark; only chunkData builds DataFrames
    val src = new BenchApdb(null, Workloads.stream, seed)
    (1L to n).map(src.chunk)
  }

  def main(args: Array[String]): Unit = {
    test("the same seed gives the same chunks") {
      expect(chunks(7, 5) == chunks(7, 5), "two generations of seed 7 differ")
      expect(chunks(7, 5) != chunks(8, 5), "seeds 7 and 8 give the same chunks")
    }

    test("every update kind is generated and aims at an earlier chunk's rows") {
      val cs = chunks(3, 6)
      val kinds = cs.flatMap(_.updates.map(_.getClass.getSimpleName)).toSet
      expect(kinds.size == 6, s"update kinds: $kinds")
      val seenSources = scala.collection.mutable.Set.empty[Long]
      cs.foreach { c =>
        c.updates.filter(_.tableName == "DiaSource").foreach(u =>
          expect(seenSources(u.recordId.head), s"chunk ${c.id} updates unknown source ${u.recordId}"))
        seenSources ++= c.sources.map(_.getLong(0))
      }
    }

    val model = new Model
    chunks(11, 6).grouped(2).foreach(model.applyBatch)
    test("the check accepts the expected state") {
      val problems = Check.tables(model, model.objectRows, model.sourceRows,
        model.forcedRows, Some(model.snapshotRows))
      expect(problems.isEmpty, problems.mkString("; "))
    }

    test("the check rejects a corrupted expected state") {
      val corrupt = new Model
      chunks(11, 6).grouped(2).foreach(corrupt.applyBatch)
      // one withdrawal (a last-write-wins update) that did not land
      val (k, row) = corrupt.sources.find(_._2(12) != null).get
      corrupt.sources(k) = row.updated(12, null)
      expect(Check.tables(corrupt, model.objectRows, model.sourceRows, model.forcedRows,
        Some(model.snapshotRows)).nonEmpty, "a lost DiaSource update passed")
      // one missing row
      val fewer = model.sourceRows.drop(1)
      expect(Check.tables(model, model.objectRows, fewer, model.forcedRows,
        Some(model.snapshotRows)).nonEmpty, "a missing DiaSource row passed")
    }

    test("the check rejects a second open validity interval") {
      val reopened = model.objectRows.map { r =>
        if (r.isNullAt(2)) r else Row.fromSeq(r.toSeq.updated(2, null))
      }
      expect(Check.validity(reopened).nonEmpty, "overlapping open intervals passed")
      expect(Check.validity(model.objectRows).isEmpty, "the model's own intervals failed")
    }

    test("the check rejects a chunk that was not promoted") {
      val schema = graft.schema.PpdbSchema.replicaChunk
      def chunkRow(id: Long, status: String) = new org.apache.spark.sql.catalyst.expressions
        .GenericRowWithSchema(Array[Any](id, 0L, "u", 0L, status, null, 0L), schema)
      expect(Check.chunksPromoted(Seq(chunkRow(1, "promoted"), chunkRow(2, "promoted")), Seq(1L, 2L)).isEmpty,
        "promoted chunks failed")
      expect(Check.chunksPromoted(Seq(chunkRow(1, "promoted"), chunkRow(2, "staged")), Seq(1L, 2L)).nonEmpty,
        "a staged chunk passed")
      expect(Check.chunksPromoted(Seq(chunkRow(1, "promoted")), Seq(1L, 2L)).nonEmpty,
        "a missing chunk passed")
    }

    test("BENCHMARK.json lists exactly the workloads and metrics the runs report") {
      import scala.jdk.CollectionConverters._
      val doc = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File("BENCHMARK.json"))
      def names(key: String, field: String) =
        doc.get(key).elements().asScala.map(_.get(field).asText).toSeq
      expect(names("workloads", "name") == Workloads.all.map(_.name), "workloads differ")
      expect(names("end_to_end", "name").zip(names("end_to_end", "unit")) == Main.EndToEnd,
        "end-to-end metrics differ")
      expect(names("per_layer", "name").zip(names("per_layer", "unit")) == Layers.catalogue,
        "per-layer metrics differ")
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      test("span self-times are non-negative and sum to the root span") {
        val tracer = new Tracer(spark, installed = true)
        tracer.active = true
        tracer.span("root") {
          Thread.sleep(5)
          tracer.span("a") {
            spark.range(1000).selectExpr("sum(id)").collect()
            tracer.span("a1")(Thread.sleep(3))
          }
          tracer.span("b")(Thread.sleep(2))
        }
        tracer.drain()
        tracer.close()
        val root = tracer.roots.head
        val all = root.descendants.toSeq
        expect(all.map(_.name) == Seq("root", "a", "a1", "b"), s"span tree ${all.map(_.name)}")
        expect(all.forall(_.selfSeconds >= 0), "negative self time")
        expect(math.abs(all.map(_.selfSeconds).sum - root.seconds) < 1e-9,
          s"self times sum to ${all.map(_.selfSeconds).sum}, root is ${root.seconds}")
        expect(all.find(_.name == "a").get.work.jobs >= 1, "the job in span a was not attributed to it")
        expect(root.work.jobs == 0, "a child's job was attributed to the root")
      }
    } finally spark.stop()

    if (failures > 0) sys.exit(1)
  }
}
