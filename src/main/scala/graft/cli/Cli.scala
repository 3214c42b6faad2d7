package graft.cli

import org.apache.spark.sql.{Row, SparkSession}

import graft.catalog.{SchemaRegistry, VersionedCatalog}
import graft.replicate._
import graft.schema.PpdbSchema

/** Command-line entry points mirroring the reference's CLI surface
  * (P/cli/ppdb_replication.py: create / run / upload / promote /
  * list-chunks).
  *
  * Usage:
  *   runMain graft.cli.Cli create <catalogRoot> [--felis-schema <yaml>]
  *       [--drop]
  *   runMain graft.cli.Cli run <apdbRoot> <catalogRoot> [--single]
  *       [--exit-on-empty] [--update] [--export <exportRoot>]
  *       [--metrics-json <dest>] [--min-wait-time S] [--max-wait-time S]
  *       [--check-interval S]
  *   runMain graft.cli.Cli list-chunks <catalogRoot>
  *   runMain graft.cli.Cli list-chunks --apdb <apdbRoot>
  *   runMain graft.cli.Cli seed-apdb <apdbRoot> [nObjects nChunks [start]]
  *   runMain graft.cli.Cli upload <catalogRoot> <exportRoot> <remoteRoot>
  *       [--stage] [--metrics-json <dest>]
  *   runMain graft.cli.Cli promote <catalogRoot> <exportRoot>
  *       [--loop|--single] [--exit-on-empty] [--max-chunks N]
  *       [--check-interval S] [--metrics-json <dest>]
  *   runMain graft.cli.Cli demo <catalogRoot> [nObjects nChunks]
  *   runMain graft.cli.Cli vacuum <catalogRoot>
  *   runMain graft.cli.Cli snapshot <catalogRoot|jdbcUrl> <destRoot>
  *
  * `run` and `list-chunks` accept a `jdbc:` URL (e.g.
  * `jdbc:derby:/path/to/db;create=true`) in place of <catalogRoot> to
  * target the live-RDBMS backend instead of a parquet catalog.
  */
object Cli {

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private[graft] final case class UsageError(msg: String)
      extends RuntimeException(msg)

  private val knownCommands = Set("create", "run", "list-chunks",
    "seed-apdb", "upload", "promote", "vacuum", "demo", "snapshot",
    "pair-graph", "curate")

  def main(args: Array[String]): Unit = args.toList match {
    case "vacuum" :: root :: rest =>
      // pure filesystem work — don't pay a SparkSession for it
      try runVacuum(root, rest)
      catch { case UsageError(m) => System.err.println(m); sys.exit(2) }
    case other if !other.headOption.exists(knownCommands) =>
      // unknown (or missing) command: fail fast, no session startup
      System.err.println(usageFor(other))
      sys.exit(2)
    case other =>
      // parse flags/numerics BEFORE paying session startup, so a typo'd
      // option exits 2 with the usage message instead of starting Spark
      // and dying with a stack trace
      try preValidate(other)
      catch {
        case UsageError(m) => System.err.println(m); sys.exit(2)
      }
      val spark = session()
      val exit =
        try { dispatch(spark, other); 0 }
        catch { case UsageError(m) => System.err.println(m); 2 }
        finally spark.stop()
      if (exit != 0) sys.exit(exit)
  }

  /** Argument parsing that can fail, run once pre-session (the same
    * parsers run again inside dispatch; they are cheap and pure).
    */
  private def preValidate(args: List[String]): Unit = args match {
    case "run" :: _ :: _ :: rest => parseRunOpts(rest); ()
    case "seed-apdb" :: _ :: rest => parseSeedArgs(rest); ()
    case "demo" :: _ :: rest => parseDemoArgs(rest); ()
    case "upload" :: _ :: _ :: _ :: rest =>
      parseServiceOpts("upload", rest, allowStage = true); ()
    case "promote" :: _ :: _ :: rest =>
      parseServiceOpts("promote", rest, allowStage = false,
        allowLoop = true); ()
    case "create" :: _ :: rest =>
      parseCreateOpts(rest).felisPath.foreach { p =>
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
          throw UsageError(s"felis schema file not found: $p")
      }
    case "pair-graph" :: rest =>
      rest.headOption match {
        case Some(sub) if pgSubcommands(sub) =>
          // flags only — positional paths are validated in dispatch
          parsePgOpts(rest.tail.dropWhile(a => !a.startsWith("--"))); ()
        case _ => throw UsageError(usageFor(List("pair-graph")))
      }
    case "curate" :: rest =>
      parseCurateOpts(rest.dropWhile(a => !a.startsWith("--"))); ()
    case _ => ()
  }

  /** `upload` / `promote` service knobs. `promote` gets the loop family
    * (--loop/--single/--exit-on-empty/--check-interval/--max-chunks) so
    * the three services deploy as polling peers the way the reference
    * runs them — as separate processes over one catalog root, safely:
    * every service read-modify-write commits under the catalog's
    * optimistic concurrency (commit-id CAS + bounded retry, see
    * [[graft.catalog.VersionedCatalog]]), so an interleaved peer commit
    * re-runs the poll instead of silently losing its update.
    * --max-chunks is the backpressure cap per poll.
    */
  private[graft] final case class ServiceOpts(stage: Boolean = false,
      metricsJson: Option[String] = None,
      loop: Boolean = false, single: Boolean = false,
      exitOnEmpty: Boolean = false,
      maxChunks: Option[Int] = None, checkIntervalS: Long = 360L)

  private def parseServiceOpts(cmd: String, rest: List[String],
      allowStage: Boolean, allowLoop: Boolean = false): ServiceOpts = {
    @annotation.tailrec
    def go(args: List[String], o: ServiceOpts): ServiceOpts = args match {
      case "--stage" :: t if allowStage => go(t, o.copy(stage = true))
      case "--metrics-json" :: dest :: t => go(t, o.copy(metricsJson = Some(dest)))
      case "--loop" :: t if allowLoop => go(t, o.copy(loop = true))
      case "--single" :: t if allowLoop => go(t, o.copy(single = true))
      case "--exit-on-empty" :: t if allowLoop => go(t, o.copy(exitOnEmpty = true))
      case "--max-chunks" :: v :: t if allowLoop =>
        go(t, o.copy(maxChunks = Some(numArg("--max-chunks", v).toInt)))
      case "--check-interval" :: v :: t if allowLoop =>
        go(t, o.copy(checkIntervalS = numArg("--check-interval", v)))
      case Nil => o
      case bad :: _ => throw UsageError(s"unknown $cmd option: $bad")
    }
    go(rest, ServiceOpts())
  }

  /** One structured metrics line per polling window — `-` prints to
    * stdout, anything else appends to the file (one JSON object per
    * line, the reference's machine-readable job-stats channel).
    */
  private def emitJson(dest: String, line: String): Unit =
    if (dest == "-") println(line)
    else {
      val path = java.nio.file.Paths.get(dest)
      Option(path.getParent)
        .foreach(d => { java.nio.file.Files.createDirectories(d); () })
      java.nio.file.Files.write(path,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    }

  /** `create` knobs (reference create-sql: felis_schema_options + --drop,
    * P/cli/ppdb_cli.py:60-68).
    */
  /** `vacuum` retention knobs: keep the last N past commits readable
    * via readAt (their data dirs survive the sweep); --dry-run audits
    * the policy without deleting.
    */
  private[graft] final case class VacuumOpts(retainCommits: Int = 0,
      dryRun: Boolean = false)

  private[graft] def parseVacuumOpts(rest: List[String]): VacuumOpts = {
    def go(args: List[String], o: VacuumOpts): VacuumOpts = args match {
      case "--retain-commits" :: v :: t =>
        go(t, o.copy(retainCommits = numArg("--retain-commits", v).toInt))
      case "--dry-run" :: t => go(t, o.copy(dryRun = true))
      case Nil => o
      case bad :: _ => throw UsageError(s"unknown vacuum option: $bad")
    }
    go(rest, VacuumOpts())
  }

  private[graft] def runVacuum(root: String, rest: List[String]): Unit = {
    val o = parseVacuumOpts(rest)
    val removed = new VersionedCatalog(root)
      .vacuum(retainCommits = o.retainCommits, dryRun = o.dryRun)
    val verb = if (o.dryRun) "would remove" else "removed"
    println(s"$verb $removed unreferenced version dirs " +
      s"(retaining ${o.retainCommits} past commits)")
  }

  private[graft] final case class CreateOpts(felisPath: Option[String] = None,
      drop: Boolean = false)

  private def parseCreateOpts(rest: List[String]): CreateOpts = {
    @annotation.tailrec
    def go(args: List[String], o: CreateOpts): CreateOpts = args match {
      case "--felis-schema" :: p :: t => go(t, o.copy(felisPath = Some(p)))
      case "--drop" :: t => go(t, o.copy(drop = true))
      case Nil => o
      case bad :: _ => throw UsageError(s"unknown create option: $bad")
    }
    go(rest, CreateOpts())
  }

  private def numArg(what: String, v: String): Long =
    try v.toLong
    catch {
      case _: NumberFormatException =>
        throw UsageError(s"$what expects an integer, got: $v")
    }

  private[graft] def parseSeedArgs(rest: List[String]): (Int, Int, Long) =
    rest match {
      case o :: c :: s :: Nil =>
        (numArg("nObjects", o).toInt, numArg("nChunks", c).toInt,
          numArg("startChunk", s))
      case o :: c :: Nil =>
        (numArg("nObjects", o).toInt, numArg("nChunks", c).toInt, 1L)
      case Nil => (100, 4, 1L)
      case _ => throw UsageError(
        "usage: seed-apdb <root> [nObjects nChunks [startChunk]]")
    }

  private[graft] def parseDemoArgs(rest: List[String]): (Int, Int) =
    rest match {
      case o :: c :: Nil => (numArg("nObjects", o).toInt, numArg("nChunks", c).toInt)
      case Nil => (100, 4)
      case _ => throw UsageError("usage: demo <root> [nObjects nChunks]")
    }

  private def usageFor(args: List[String]): String =
    args.headOption match {
      case Some(cmd) if knownCommands(cmd) =>
        s"missing arguments for: ${args.mkString(" ")}\n" +
          "usage: create <root> [--felis-schema <yaml>] [--drop] | " +
          "run <apdbRoot> <root> [opts] | " +
          "list-chunks [--apdb] <root> | " +
          "seed-apdb <root> [nObjects nChunks [start]] | " +
          "upload <root> <exportRoot> <remoteRoot> [--stage] [--metrics-json <dest>] | " +
          "promote <root> <exportRoot> [--loop|--single] [--exit-on-empty] " +
          "[--max-chunks N] [--check-interval S] | " +
          "vacuum <root> [--retain-commits N] [--dry-run] | " +
          "demo <root> [nObjects nChunks] | " +
          "snapshot <root|jdbcUrl> <destRoot> | " +
          "pair-graph build|add <root> <docsParquet> [--name N] " +
          "[--id-col C] [--text-col C] [--n K] [--num-hashes H] " +
          "[--rows-per-band R] [--threshold T] | " +
          "pair-graph clusters|rank|core <root> [--name N] [--iters I] " +
          "[--contracted] [--k K] [--max-rounds R] [--docs <parquet>] " +
          "(clusters without --docs labels INDEXED docs only — " +
          "too-short-to-shingle docs are absent; pass --docs for the " +
          "full id universe) | " +
          "curate <root> <docsParquet> [--name N] [--id-col C] " +
          "[--text-col C] [--source-col C] [--scrub-pii] " +
          "[--blocklist p1,p2] [--min-tokens N] [--max-tokens N] " +
          "[--min-quality X] [--langs l1,l2] [--gopher] " +
          "[--min-model-quality X] [--lm-ref <parquet>] " +
          "[--lm-max-bits X] [--no-exact-dedup] [--near-dup T] " +
          "[--pair-graph NAME (near-dedup from the committed pair " +
          "graph in <root> instead of re-hashing)] " +
          "[--benchmark <parquet>] [--budget-per-source N] " +
          "[--split TR,VAL] [--chunk K,OVERLAP]"
      case _ =>
        s"unknown command: ${args.mkString(" ")}\n" +
          "commands: create | run | list-chunks | seed-apdb | upload | " +
          "promote | vacuum | demo | snapshot | pair-graph | curate"
    }

  private[graft] val pgSubcommands =
    Set("build", "add", "clusters", "rank", "core")

  /** pair-graph knobs — the LSH parameters mirror the library defaults
    * used by every gate query (3-gram shingles, 8 hashes, 2 rows/band,
    * Jaccard 0.6).
    */
  private[graft] final case class PgOpts(name: String = "pair_graph",
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.6, iters: Int = 3, k: Int = 2,
      maxRounds: Int = 50, contracted: Boolean = false,
      docs: Option[String] = None)

  private[graft] def parsePgOpts(rest: List[String]): PgOpts = {
    def dblArg(what: String, v: String): Double =
      try v.toDouble
      catch {
        case _: NumberFormatException =>
          throw UsageError(s"$what expects a number, got: $v")
      }
    @annotation.tailrec
    def go(args: List[String], o: PgOpts): PgOpts = args match {
      case "--name" :: v :: t => go(t, o.copy(name = v))
      case "--id-col" :: v :: t => go(t, o.copy(idCol = v))
      case "--text-col" :: v :: t => go(t, o.copy(textCol = v))
      case "--n" :: v :: t => go(t, o.copy(n = numArg("--n", v).toInt))
      case "--num-hashes" :: v :: t =>
        go(t, o.copy(numHashes = numArg("--num-hashes", v).toInt))
      case "--rows-per-band" :: v :: t =>
        go(t, o.copy(rowsPerBand = numArg("--rows-per-band", v).toInt))
      case "--threshold" :: v :: t =>
        go(t, o.copy(threshold = dblArg("--threshold", v)))
      case "--iters" :: v :: t =>
        go(t, o.copy(iters = numArg("--iters", v).toInt))
      case "--k" :: v :: t => go(t, o.copy(k = numArg("--k", v).toInt))
      case "--max-rounds" :: v :: t =>
        go(t, o.copy(maxRounds = numArg("--max-rounds", v).toInt))
      case "--contracted" :: t => go(t, o.copy(contracted = true))
      case "--docs" :: v :: t => go(t, o.copy(docs = Some(v)))
      case Nil => o
      case bad :: _ => throw UsageError(s"unknown pair-graph option: $bad")
    }
    go(rest, PgOpts())
  }

  /** `curate` knobs — each maps 1:1 to a [[graft.ops.CurationConfig]]
    * field; stage defaults mirror the library's (exact dedup on,
    * everything else opt-in).
    */
  private[graft] final case class CurateOpts(name: String = "curated",
      idCol: String = "doc_id", textCol: String = "text",
      sourceCol: String = "source",
      scrubPii: Boolean = false, blocklist: Seq[String] = Nil,
      minTokens: Int = 10, maxTokens: Int = 1 << 20,
      minQuality: Double = 0.0, langs: Set[String] = Set.empty,
      gopher: Boolean = false, minModelQuality: Option[Double] = None,
      lmRef: Option[String] = None, lmMaxBits: Double = 16.0,
      exactDedup: Boolean = true, nearDup: Option[Double] = None,
      pairGraphName: Option[String] = None,
      benchmark: Option[String] = None, budgetPerSource: Option[Long] = None,
      split: Option[(Int, Int)] = None, chunk: Option[(Int, Int)] = None)

  private[graft] def parseCurateOpts(rest: List[String]): CurateOpts = {
    def dblArg(what: String, v: String): Double =
      try v.toDouble
      catch {
        case _: NumberFormatException =>
          throw UsageError(s"$what expects a number, got: $v")
      }
    def pairArg(what: String, v: String): (Int, Int) = v.split(",") match {
      case Array(a, b) => (numArg(what, a).toInt, numArg(what, b).toInt)
      case _ => throw UsageError(s"$what expects A,B — got: $v")
    }
    @annotation.tailrec
    def go(args: List[String], o: CurateOpts): CurateOpts = args match {
      case "--name" :: v :: t => go(t, o.copy(name = v))
      case "--id-col" :: v :: t => go(t, o.copy(idCol = v))
      case "--text-col" :: v :: t => go(t, o.copy(textCol = v))
      case "--source-col" :: v :: t => go(t, o.copy(sourceCol = v))
      case "--scrub-pii" :: t => go(t, o.copy(scrubPii = true))
      case "--blocklist" :: v :: t =>
        go(t, o.copy(blocklist = v.split(",").toSeq.map(_.trim)
          .filter(_.nonEmpty)))
      case "--min-tokens" :: v :: t =>
        go(t, o.copy(minTokens = numArg("--min-tokens", v).toInt))
      case "--max-tokens" :: v :: t =>
        go(t, o.copy(maxTokens = numArg("--max-tokens", v).toInt))
      case "--min-quality" :: v :: t =>
        go(t, o.copy(minQuality = dblArg("--min-quality", v)))
      case "--langs" :: v :: t =>
        go(t, o.copy(langs = v.split(",").map(_.trim)
          .filter(_.nonEmpty).toSet))
      case "--gopher" :: t => go(t, o.copy(gopher = true))
      case "--min-model-quality" :: v :: t =>
        go(t, o.copy(minModelQuality =
          Some(dblArg("--min-model-quality", v))))
      case "--lm-ref" :: v :: t => go(t, o.copy(lmRef = Some(v)))
      case "--lm-max-bits" :: v :: t =>
        go(t, o.copy(lmMaxBits = dblArg("--lm-max-bits", v)))
      case "--no-exact-dedup" :: t => go(t, o.copy(exactDedup = false))
      case "--near-dup" :: v :: t =>
        go(t, o.copy(nearDup = Some(dblArg("--near-dup", v))))
      case "--pair-graph" :: v :: t =>
        go(t, o.copy(pairGraphName = Some(v)))
      case "--benchmark" :: v :: t => go(t, o.copy(benchmark = Some(v)))
      case "--budget-per-source" :: v :: t =>
        go(t, o.copy(budgetPerSource =
          Some(numArg("--budget-per-source", v))))
      case "--split" :: v :: t =>
        go(t, o.copy(split = Some(pairArg("--split", v))))
      case "--chunk" :: v :: t =>
        go(t, o.copy(chunk = Some(pairArg("--chunk", v))))
      case Nil => o
      case bad :: _ => throw UsageError(s"unknown curate option: $bad")
    }
    go(rest, CurateOpts())
  }

  /** Replication-loop knobs (defaults from P/cli/options.py:105-124). */
  private[graft] final case class RunOpts(
      single: Boolean = false, exitOnEmpty: Boolean = false,
      update: Boolean = false, exportRoot: Option[String] = None,
      metricsJson: Option[String] = None,
      minWaitS: Long = 300L, maxWaitS: Long = 900L, checkIntervalS: Long = 360L)

  private def parseRunOpts(rest: List[String]): RunOpts = {
    @annotation.tailrec
    def go(args: List[String], o: RunOpts): RunOpts = args match {
      case "--single" :: t => go(t, o.copy(single = true))
      case "--exit-on-empty" :: t => go(t, o.copy(exitOnEmpty = true))
      case "--update" :: t => go(t, o.copy(update = true))
      case "--export" :: dir :: t => go(t, o.copy(exportRoot = Some(dir)))
      case "--metrics-json" :: dest :: t => go(t, o.copy(metricsJson = Some(dest)))
      case "--min-wait-time" :: v :: t =>
        go(t, o.copy(minWaitS = numArg("--min-wait-time", v)))
      case "--max-wait-time" :: v :: t =>
        go(t, o.copy(maxWaitS = numArg("--max-wait-time", v)))
      case "--check-interval" :: v :: t =>
        go(t, o.copy(checkIntervalS = numArg("--check-interval", v)))
      case Nil => o
      case bad :: _ => throw UsageError(s"unknown run option: $bad")
    }
    go(rest, RunOpts())
  }

  /** Command dispatch on an externally-owned session (tests drive this
    * directly; `main` wraps it with session lifecycle).
    */
  private[graft] def dispatch(spark: SparkSession, args: List[String]): Unit =
    args match {
      // main handles vacuum pre-session; this case keeps the command
      // reachable through the one testable entry point
      case "vacuum" :: root :: rest => runVacuum(root, rest)
      case "create" :: root :: rest =>
        val opts = parseCreateOpts(rest)
        // schema source: a Felis YAML file (reference create-sql
        // --felis-path) or the built-in PPDB schema structs
        val (version, tables) = opts.felisPath match {
          case Some(p) =>
            val yaml =
              try new String(java.nio.file.Files.readAllBytes(
                java.nio.file.Paths.get(p)),
                java.nio.charset.StandardCharsets.UTF_8)
              catch {
                case _: java.io.IOException =>
                  throw UsageError(s"felis schema file not found: $p")
              }
            val schemaDef =
              try graft.schema.FelisSchema.parse(yaml)
              catch {
                case e: Exception =>
                  throw UsageError(s"cannot parse felis schema $p: ${e.getMessage}")
              }
            // `metadata` is the key/value store MetadataTable owns;
            // PpdbSpark.create's meta.init() publishes it
            (graft.schema.VersionTuple.parse(schemaDef.version),
              schemaDef.tables.filterNot(_.name == "metadata")
                .map(t => t.name -> t.structType))
          case None =>
            (PpdbSchema.schemaVersion,
              Seq("DiaObject" -> PpdbSchema.diaObject,
                "DiaSource" -> PpdbSchema.diaSource,
                "DiaForcedSource" -> PpdbSchema.diaForcedSource,
                "PpdbReplicaChunk" -> PpdbSchema.replicaChunk))
        }
        val cat = new VersionedCatalog(root, VersionedCatalog.ppdbWriteOptions)
        if (cat.tables.nonEmpty && !opts.drop)
          throw UsageError(s"catalog at $root already exists (tables: " +
            s"${cat.tables.toSeq.sorted.mkString(", ")}); pass --drop to recreate")
        val reg = new SchemaRegistry(root)
        new PpdbSpark(spark, cat).create(tables, version, reg, opts.drop)
        println(s"created catalog at $root (schema ${version.render}, " +
          s"tables: ${reg.tables.mkString(", ")})")

      case "run" :: apdbRoot :: catalogRoot :: rest =>
        val opts = parseRunOpts(rest)
        graft.Metrics.logEnabled = true
        // backend select: direct store (reference SQL backend) or, with
        // --export, chunk export into the staged upload/promote pipeline
        // (reference BigQuery backend)
        val target: ReplicaTarget = opts.exportRoot match {
          case Some(dir) =>
            val promoter = new Promoter(spark,
              new VersionedCatalog(catalogRoot, VersionedCatalog.ppdbWriteOptions), dir)
            promoter.init()
            new PpdbStaged(spark, promoter)
          // a jdbc: URL targets the live-RDBMS backend (the reference's
          // primary SQL store) instead of a parquet catalog root
          case None if catalogRoot.startsWith("jdbc:") =>
            PpdbJdbc.open(spark, catalogRoot)
          case None =>
            val ppdb = new PpdbSpark(spark,
              new VersionedCatalog(catalogRoot, VersionedCatalog.ppdbWriteOptions))
            ppdb.init()
            ppdb
        }
        val rep = new Replicator(spark, new ParquetApdb(spark, apdbRoot), target,
          ReplicatorConfig(
            minWaitUs = opts.minWaitS * 1000000L,
            maxWaitUs = opts.maxWaitS * 1000000L,
            checkIntervalUs = opts.checkIntervalS * 1000000L),
          update = opts.update)
        // SIGTERM/Ctrl-C: ask the loop to finish the current poll, then
        // hold the JVM until it has (bounded), so no chunk copy is torn
        val stopped = new java.util.concurrent.CountDownLatch(1)
        val hook = new Thread(() => {
          rep.requestStop()
          stopped.await(60L, java.util.concurrent.TimeUnit.SECONDS)
          ()
        })
        Runtime.getRuntime.addShutdownHook(hook)
        try {
          // wall_s spans from the previous poll's report (so it includes
          // the inter-poll wait — the replication-lag number an operator
          // trends)
          var windowStartNs = System.nanoTime()
          val copied = rep.run(single = opts.single,
            exitOnEmpty = opts.exitOnEmpty,
            onPoll = (poll, ids) => {
              println(s"poll $poll: " +
                (if (ids.isEmpty) "nothing to replicate"
                else s"replicated chunks ${ids.mkString(", ")}"))
              // THIS poll's timings only: summarize, then reset
              graft.Metrics.summary().toSeq.sortBy(_._1).foreach {
                case (m, (n, s)) => println(f"  $m%-24s n=$n%-4d total=${s}%.2f s")
              }
              opts.metricsJson.foreach { dest =>
                emitJson(dest, graft.Metrics.jsonSummary("run", poll, ids,
                  (System.nanoTime() - windowStartNs) / 1e9))
              }
              windowStartNs = System.nanoTime()
              graft.Metrics.reset()
            })
          println(s"run finished: ${copied.size} chunks replicated")
        } finally {
          stopped.countDown()
          try Runtime.getRuntime.removeShutdownHook(hook)
          catch { case _: IllegalStateException => () } // already shutting down
        }

      case "list-chunks" :: "--apdb" :: root :: Nil =>
        // source-side listing (replication_list_chunks_apdb.py:29-50) —
        // the first debugging move when replication stalls
        val chunks = new ParquetApdb(spark, root).listChunks()
          .orderBy("apdb_replica_chunk").collect()
        println(f"${"Chunk Id"}%10s  ${"Update time (us)"}%20s  Unique Id")
        val sep = "-" * 77
        println(sep)
        chunks.foreach { r =>
          println(f"${r.getLong(0)}%10d  ${r.getLong(1)}%20d  ${r.getString(2)}")
        }
        println(sep)
        println(s"Total: ${chunks.length}")

      case "list-chunks" :: root :: Nil =>
        val target: Ppdb =
          if (root.startsWith("jdbc:")) PpdbJdbc.open(spark, root)
          else new PpdbSpark(spark, new VersionedCatalog(root))
        target.replicaChunks().show(1000, truncate = false)

      case "seed-apdb" :: root :: rest =>
        val (nObjects, nChunks, start) = parseSeedArgs(rest)
        val src = new SyntheticApdb(spark, nObjects, nChunks, start)
        (start until start + nChunks).foreach(id =>
          ParquetApdb.stage(spark, root, src.chunkData(id)))
        println(s"staged chunks ${start until start + nChunks mkString ", "} " +
          s"under $root")

      case "upload" :: root :: exportRoot :: remoteRoot :: rest =>
        val opts = parseServiceOpts("upload", rest, allowStage = true)
        val promoter = new Promoter(spark,
          new VersionedCatalog(root, VersionedCatalog.ppdbWriteOptions),
          exportRoot)
        promoter.init()
        // --stage collapses the reference's Pub/Sub→Dataflow staging job
        // into the uploader's notification hook: each fully-uploaded
        // chunk is loaded into the staging tables from its remote URI
        val notify: (Long, String) => Unit =
          if (opts.stage) (id, _) => promoter.stageChunks(Seq(id))
          else (_, _) => ()
        val uploader = new ChunkUploader(spark, promoter, remoteRoot,
          notify = notify,
          exitOnEmpty = true,
          exitOnError = sys.env.get("GRAFT_EXIT_ON_ERROR").contains("1"))
        graft.Metrics.reset()
        val t0 = System.nanoTime()
        val ids = uploader.runOnce()
        opts.metricsJson.foreach { dest =>
          emitJson(dest, graft.Metrics.jsonSummary("upload", 1, ids,
            (System.nanoTime() - t0) / 1e9))
        }
        println(if (ids.isEmpty) "nothing to upload"
          else s"uploaded chunks ${ids.mkString(", ")} to $remoteRoot")

      case "promote" :: root :: exportRoot :: rest =>
        val opts = parseServiceOpts("promote", rest, allowStage = false,
          allowLoop = true)
        val promoter = new Promoter(spark,
          new VersionedCatalog(root, VersionedCatalog.ppdbWriteOptions),
          exportRoot)
        promoter.init()
        graft.Metrics.reset()
        if (opts.loop || opts.single) {
          // continuous service: each poll stages whatever upload
          // finished, promotes up to --max-chunks of the staged prefix,
          // sleeps --check-interval when idle. SIGTERM finishes the
          // current poll (promote commits are atomic; a kill mid-poll
          // loses nothing, a finished poll isn't re-done)
          val stopped = new java.util.concurrent.CountDownLatch(1)
          val hook = new Thread(() => {
            promoter.requestStop()
            stopped.await(60L, java.util.concurrent.TimeUnit.SECONDS)
            ()
          })
          Runtime.getRuntime.addShutdownHook(hook)
          try {
            var windowStartNs = System.nanoTime()
            val ids = promoter.run(single = opts.single,
              exitOnEmpty = opts.exitOnEmpty,
              maxChunksPerPoll = opts.maxChunks,
              checkIntervalMs = opts.checkIntervalS * 1000L,
              onPoll = (poll, promoted) => {
                println(s"poll $poll: " +
                  (if (promoted.isEmpty) "nothing promotable"
                  else s"promoted chunks ${promoted.mkString(", ")}"))
                opts.metricsJson.foreach { dest =>
                  emitJson(dest, graft.Metrics.jsonSummary("promote", poll,
                    promoted, (System.nanoTime() - windowStartNs) / 1e9))
                }
                windowStartNs = System.nanoTime()
                graft.Metrics.reset()
              })
            println(s"promote finished: ${ids.size} chunks promoted")
          } finally {
            stopped.countDown()
            try Runtime.getRuntime.removeShutdownHook(hook)
            catch { case _: IllegalStateException => () }
          }
        } else {
          val t0 = System.nanoTime()
          // self-heal: any uploaded-but-unstaged chunk (upload ran
          // without --stage, or a crash landed between upload and
          // staging) is staged from its remote URI before promotion —
          // the chain converges no matter where the last cycle stopped
          val uploaded = promoter.stageUploaded()
          if (uploaded.nonEmpty)
            println(s"staged uploaded chunks ${uploaded.mkString(", ")}")
          val ids = promoter.promote(opts.maxChunks)
          opts.metricsJson.foreach { dest =>
            emitJson(dest, graft.Metrics.jsonSummary("promote", 1, ids,
              (System.nanoTime() - t0) / 1e9))
          }
          println(if (ids.isEmpty) "nothing promotable"
            else s"promoted chunks ${ids.mkString(", ")}")
        }

      // analytic bridge: materialize the latest-version DiaObject
      // snapshot (S14 CTAS — open intervals only, spatial cell attached,
      // cell-clustered) from EITHER backend into a parquet catalog. From
      // a jdbc: source the scan is partitioned over the PK range, so
      // every executor reads its own stride of the live store.
      case "snapshot" :: source :: destRoot :: Nil =>
        val dia =
          if (source.startsWith("jdbc:")) {
            val ppdb = PpdbJdbc.open(spark, source)
            ppdb.keyBounds("DiaObject", "diaObjectId") match {
              case Some((lo, hi)) if hi > lo =>
                ppdb.read("DiaObject", "diaObjectId", lo, hi + 1,
                  math.min(32, spark.sparkContext.defaultParallelism))
              case _ => ppdb.read("DiaObject")
            }
          } else new VersionedCatalog(source).read(spark, "DiaObject")
        val snap = graft.ops.PpdbOps.latestSnapshot(dia)
        val dest = new VersionedCatalog(destRoot,
          VersionedCatalog.ppdbWriteOptions)
        dest.commit(Map("DiaObjectLast" -> snap))
        val n = dest.read(spark, "DiaObjectLast").count()
        println(s"snapshot: $n DiaObjectLast rows -> $destRoot")

      case "demo" :: root :: rest =>
        val (nObjects, nChunks) = parseDemoArgs(rest)
        graft.Metrics.logEnabled = true
        val ppdb = new PpdbSpark(spark,
          new VersionedCatalog(root, VersionedCatalog.ppdbWriteOptions))
        ppdb.init()
        val source = new SyntheticApdb(spark, nObjects, nChunks)
        val copied = new Replicator(spark, source, ppdb)
          .runOnce(nowUs = Long.MaxValue / 2)
        println(s"replicated chunks: ${copied.mkString(", ")}")
        println(s"DiaObject rows: ${ppdb.catalog.read(spark, "DiaObject").count()}")
        println("latest snapshot: " +
          graft.ops.PpdbOps.latestSnapshot(
            ppdb.catalog.read(spark, "DiaObject")).count())
        graft.Metrics.summary().toSeq.sortBy(_._1).foreach {
          case (m, (n, s)) => println(f"  $m%-24s n=$n%-4d total=${s}%.2f s")
        }

      // the near-dup pair graph as a catalog citizen: build/refresh the
      // persisted edge index from a documents parquet, fold new batches
      // in incrementally, and derive the graph products (dup-cluster
      // labels, PageRank, k-core) as committed tables — every output
      // lands in the versioned catalog, so `GraftSession.mount` exposes
      // it to SQL as <name>_edges / <name>_clusters / <name>_rank /
      // <name>_core views alongside every other index family.
      case "pair-graph" :: "build" :: root :: docsPath :: rest =>
        val o = parsePgOpts(rest)
        val cat = new VersionedCatalog(root)
        val idx = graft.ops.Dedup.pairGraphIndex(
          spark.read.parquet(docsPath), o.idCol, o.textCol,
          o.n, o.numHashes, o.rowsPerBand, o.threshold)
        idx.save(cat, o.name)
        idx.release()
        graft.ops.Dedup.releaseCaches()
        val edges = cat.read(spark, s"${o.name}.edges").count()
        println(s"pair-graph ${o.name}: committed $edges edges to $root")

      case "pair-graph" :: "add" :: root :: docsPath :: rest =>
        val o = parsePgOpts(rest)
        val cat = new VersionedCatalog(root)
        val folded = graft.ops.Dedup.loadPairGraphIndex(spark, cat, o.name)
          .addDocs(spark.read.parquet(docsPath), o.idCol, o.textCol)
        // loaded-then-saved to the same catalog/name: this commits the
        // fold's APPEND delta (O(batch) write), not a corpus rewrite
        folded.save(cat, o.name)
        folded.release()
        graft.ops.Dedup.releaseCaches()
        // bound delta-dir growth under repeated adds, like the
        // streaming maintenance loop does
        Seq("banded", "sets", "edges").foreach { t =>
          cat.compactIfNeeded(spark, s"${o.name}.$t")
        }
        val edges = cat.read(spark, s"${o.name}.edges").count()
        println(s"pair-graph ${o.name}: folded $docsPath, now $edges edges")

      case "pair-graph" :: "clusters" :: root :: rest =>
        val o = parsePgOpts(rest)
        val cat = new VersionedCatalog(root)
        val idx = graft.ops.Dedup.loadPairGraphIndex(spark, cat, o.name)
        // node universe: WITHOUT --docs it is every INDEXED doc — docs
        // too short to shingle never entered the index, so they are
        // absent from the committed table (a reduced contract vs the
        // inline dupClusters, which labels every supplied id as a
        // singleton). Pass --docs <parquet> to supply the full id
        // universe; short docs then get their singleton labels exactly
        // like the inline pipeline.
        val ids = o.docs match {
          case Some(p) => spark.read.parquet(p)
            .select(org.apache.spark.sql.functions.col(o.idCol))
          case None => idx.minhash.sets
            .select(org.apache.spark.sql.functions.col("doc").as(o.idCol))
        }
        cat.commit(Map(s"${o.name}.clusters" -> idx.dupClusters(ids, o.idCol)))
        graft.ops.Dedup.releaseCaches()
        val cl = cat.read(spark, s"${o.name}.clusters")
        val nClusters = cl.select("cluster_id").distinct().count()
        println(s"pair-graph ${o.name}: labeled ${cl.count()} docs in " +
          s"$nClusters clusters -> table ${o.name}.clusters")

      case "pair-graph" :: "rank" :: root :: rest =>
        val o = parsePgOpts(rest)
        val cat = new VersionedCatalog(root)
        val idx = graft.ops.Dedup.loadPairGraphIndex(spark, cat, o.name)
        val r = if (o.contracted) idx.pageRankContracted(o.idCol, o.iters)
          else idx.pageRank(o.idCol, o.iters)
        cat.commit(Map(s"${o.name}.rank" -> r))
        graft.ops.Dedup.releaseCaches()
        val ranked = cat.read(spark, s"${o.name}.rank")
        println(s"pair-graph ${o.name}: ranked ${ranked.count()} nodes " +
          s"-> table ${o.name}.rank (top: " +
          ranked.orderBy(org.apache.spark.sql.functions.col("rank_fp").desc,
            org.apache.spark.sql.functions.col(o.idCol))
            .limit(3).collect()
            .map(row => s"${row.get(0)}=${row.get(1)}").mkString(", ") + ")")

      case "pair-graph" :: "core" :: root :: rest =>
        val o = parsePgOpts(rest)
        val cat = new VersionedCatalog(root)
        val idx = graft.ops.Dedup.loadPairGraphIndex(spark, cat, o.name)
        cat.commit(Map(s"${o.name}.core" -> idx.kCore(o.k, o.maxRounds)))
        graft.ops.Dedup.releaseCaches()
        val n = cat.read(spark, s"${o.name}.core").count()
        println(s"pair-graph ${o.name}: ${o.k}-core holds $n nodes " +
          s"-> table ${o.name}.core")

      // the flagship curation composition as a JOB: run
      // TextPipeline.curate over a documents parquet and commit the
      // survivors plus a per-stage survivor-count table atomically —
      // both land in the versioned catalog, so GraftSession.mount
      // exposes them to SQL like every other index family.
      case "curate" :: root :: docsPath :: rest =>
        val o = parseCurateOpts(rest)
        val cat = new VersionedCatalog(root)
        val docs = spark.read.parquet(docsPath)
        val cfg = graft.ops.CurationConfig(
          scrubPii = o.scrubPii, blocklist = o.blocklist,
          minTokens = o.minTokens, maxTokens = o.maxTokens,
          minQuality = o.minQuality, langs = o.langs,
          gopherGates = o.gopher, minModelQuality = o.minModelQuality,
          lmFilter = o.lmRef.map(p => (spark.read.parquet(p), o.lmMaxBits)),
          dedupExact = o.exactDedup, nearDupThreshold = o.nearDup,
          // committed pair-graph edges from THIS catalog: near-dedup
          // becomes two semi-joins on the edge list instead of
          // re-hashing the corpus (the index must cover these docs at
          // the same scrub level — see CurationConfig.nearDupPairs)
          nearDupPairs = o.pairGraphName.map(n =>
            graft.ops.Dedup.loadPairGraphIndex(spark, cat, n).pairs),
          benchmark = o.benchmark.map(spark.read.parquet(_)),
          budgetPerSource = o.budgetPerSource,
          split = o.split, chunk = o.chunk)
        // per-stage survivor counts through the tap (persist + count
        // feeding forward — instrumentation never re-executes a stage)
        val stages =
          scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
        val survivors = graft.ops.TextPipeline.curate(docs, o.idCol,
          o.textCol, o.sourceCol, cfg, stageTap = (stage, df) => {
            val p = graft.ops.Dedup.trackExisting(df.persist())
            stages += ((stages.size + 1, stage, p.count()))
            p
          })
        val statsRows = (0, "input", docs.count()) +: stages.toSeq
        val statsDf = spark.createDataFrame(statsRows).toDF(
          "stage_idx", "stage", "n_docs")
        cat.commit(Map(
          o.name -> survivors,
          s"${o.name}.stage_stats" -> statsDf))
        graft.ops.Dedup.releaseCaches()
        val kept = cat.read(spark, o.name).count()
        val stageStr = statsRows.map { case (_, s, c) => s"$s=$c" }
          .mkString(", ")
        println(s"curate ${o.name}: $kept rows committed to $root " +
          s"(stages: $stageStr) -> tables ${o.name}, ${o.name}.stage_stats")

      case other =>
        throw UsageError(usageFor(other))
    }
}

/** Synthetic APDB source for the CLI demo and `seed-apdb` (same shape as
  * the test generator: per chunk, every object gets a new version plus one
  * DiaSource and one DiaForcedSource row). Chunk ids run `firstChunk`
  * to `firstChunk + nChunks - 1` so repeated seeds can extend a drop zone.
  */
final class SyntheticApdb(spark: SparkSession, nObjects: Int, nChunks: Int,
    firstChunk: Long = 1L) extends ApdbSource {
  private val baseMjd = 60000.0
  private val chunkUs = 600L * 1000000L

  override def listChunks() = {
    val rows = (firstChunk until firstChunk + nChunks).map(id =>
      Row(id, id * chunkUs, s"uuid-$id"))
    spark.createDataFrame(java.util.List.of(rows: _*),
      ParquetApdb.chunkDescriptor)
  }

  override def chunkData(id: Long): ChunkData = {
    val mjd = baseMjd + id * 0.007
    val objRows = (0 until nObjects).map { i =>
      Row(1000L + i, mjd, null, (i * 0.036) % 360.0, (i % 180) - 90.0,
        null, id.toInt, baseMjd)
    }
    val srcRows = (0 until nObjects).map { i =>
      Row(id * 1000000L + i, id, (i % 9).toShort, 1000L + i, null, null,
        (i * 0.036) % 360.0, (i % 180) - 90.0, null, mjd, null, mjd, null)
    }
    val fsrcRows = (0 until nObjects).map { i =>
      Row(1000L + i, (i * 0.036) % 360.0, (i % 180) - 90.0, id,
        (i % 9).toShort, mjd, 0L, mjd, null)
    }
    ChunkData(id, s"uuid-$id", id * chunkUs,
      spark.createDataFrame(java.util.List.of(objRows: _*), PpdbSchema.diaObject),
      spark.createDataFrame(java.util.List.of(srcRows: _*), PpdbSchema.diaSource),
      spark.createDataFrame(java.util.List.of(fsrcRows: _*), PpdbSchema.diaForcedSource),
      Nil)
  }
}
