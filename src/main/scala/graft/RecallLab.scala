package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{IvfPqCellPackedIndex, IvfPqIndex, IvfPqSharedPackedIndex,
  PqPackedIndex, ScaleStress, Similarity}

/** Dev harness for the ANN speed/recall trade: replays BenchScale's
  * recall@k measurement (exact / base-neighborhood / rerank views, same
  * inflated corpus, same 8×k shortlist, same MEAN over the
  * spread-sampled query set) over a configurable grid of index
  * parameters, so quantizer changes are measured in seconds instead of
  * full BenchScale runs. Not part of any gate — numbers that count land
  * in BENCH_SCALE*.json via BenchScale.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_SCALE_FACTOR=10 \
  *   sbt "runMain graft.RecallLab [variant ...]"
  * with variants like pq:m=8,ksub=256,iters=3 ivfpq:kc=64,nprobe=16.
  */
object RecallLab {

  def main(args: Array[String]): Unit = {
    val Bench.Settings(sfDir, cpus, _) = Bench.settings
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = Bench.session(cpus)

    val emb = ScaleStress.inflateEmbeddings(
      Tables.embeddings(spark, sfDir), factor).cache()
    emb.count()
    val k = 30
    val nQ = sys.env.getOrElse("SPARK_GRAFT_RECALL_QUERIES", "8").toInt
    val qVecs: Seq[Seq[Float]] = Similarity.spreadSample(
        Tables.embeddings(spark, sfDir), "vec_id", nQ)
      .select(col("embedding")).collect().map(_.getSeq[Float](0)).toSeq

    val truths: Seq[(Set[Long], Set[Long])] = qVecs.map { q =>
      val t = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k)
        .select(col("vec_id")).collect().map(_.getLong(0))
      (t.toSet, t.map(_ / factor).toSet)
    }
    def ids(df: DataFrame): Set[Long] =
      df.select(col("vec_id")).collect().map(_.getLong(0)).toSet

    def opt(m: Map[String, Int], key: String, dflt: Int): Int =
      m.getOrElse(key, dflt)
    def parse(s: String): Map[String, Int] =
      s.split(",").filter(_.contains("=")).map { kv =>
        val Array(a, b) = kv.split("="); (a, b.toInt)
      }.toMap

    val variants: Seq[String] = if (args.nonEmpty) args.toSeq else Seq(
      "pq:m=16,ksub=256,iters=2,train=8192",
      "ivfpq:kc=64,m=16,ksub=256,nprobe=8,iters=2,train=8192",
      "ivfpq:kc=64,m=16,ksub=256,nprobe=16,iters=2,train=8192")

    variants.foreach { v =>
      val Array(kind, rest) = v.split(":", 2)
      val p = parse(rest)
      val t0 = System.nanoTime()
      val mk: (Seq[Float], Int) => DataFrame = kind match {
        case "pq" =>
          val idx = PqPackedIndex.buildTrained(emb, "vec_id", "embedding",
            m = opt(p, "m", 8), dims = 64, ksub = opt(p, "ksub", 64),
            iters = opt(p, "iters", 3),
            trainLimit = p.get("train").filter(_ > 0))
          idx.codes.cache().count()
          (q, kk) => idx.probe(q, k = kk)
        case "ivfpq" =>
          val idx = IvfPqSharedPackedIndex.buildTrained(emb, "vec_id",
            "embedding", kc = opt(p, "kc", 64), m = opt(p, "m", 16),
            dims = 64, ksub = opt(p, "ksub", 256),
            iters = opt(p, "iters", 3),
            trainLimit = p.get("train").filter(_ > 0))
          idx.codes.cache().count()
          (q, kk) => idx.probe(q, k = kk, nprobe = opt(p, "nprobe", 8))
        case "ivfpq_cell" =>
          val idx = IvfPqCellPackedIndex.buildTrained(emb, "vec_id",
            "embedding", kc = opt(p, "kc", 64), m = opt(p, "m", 16),
            dims = 64, ksub = opt(p, "ksub", 256),
            iters = opt(p, "iters", 3),
            trainLimit = p.get("train").filter(_ > 0),
            perCellTrainLimit = p.get("celltrain").filter(_ > 0),
            assigns = opt(p, "assigns", 1))
          idx.codes.cache().count()
          (q, kk) => idx.probe(q, k = kk, nprobe = opt(p, "nprobe", 8))
        case "ivfpq_seeded" =>
          val idx = IvfPqIndex.build(emb, "vec_id", "embedding",
            kc = opt(p, "kc", 16), m = opt(p, "m", 8), dims = 64,
            ksub = opt(p, "ksub", 64))
          idx.codes.cache().count()
          (q, kk) => idx.probe(q, k = kk, nprobe = opt(p, "nprobe", 4))
        case other =>
          sys.error(s"unknown variant kind '$other' (want pq | ivfpq | " +
            "ivfpq_cell | ivfpq_seeded), e.g. pq:m=16,ksub=256")
      }
      val rerankMult = opt(p, "rr", 8)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val per = qVecs.zip(truths).map { case (q, (truth, truthBases)) =>
        val found = ids(mk(q, k))
        val e = truth.intersect(found).size.toDouble / truth.size
        val b = truthBases.intersect(found.map(_ / factor)).size
          .toDouble / truthBases.size
        val reranked = ids(Similarity.rerankTopK(
          mk(q, k * rerankMult), emb, "vec_id", "embedding", q, k))
        val r = truth.intersect(reranked).size.toDouble / truth.size
        (e, b, r)
      }
      val (ex, base, rr) = (per.map(_._1).sum / per.size,
        per.map(_._2).sum / per.size, per.map(_._3).sum / per.size)
      val rrMin = per.map(_._3).min
      val tProbe = (System.nanoTime() - t1) / 1e9
      println(f"[lab] $v%-46s build $tBuild%6.1f s  probe $tProbe%6.1f s" +
        f"  exact $ex%5.3f  base $base%5.3f  rerank $rr%5.3f" +
        f"  rr_min $rrMin%5.3f")
      spark.catalog.clearCache()
      emb.cache().count()
    }
    spark.stop()
  }
}
