package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with graft's scale-oriented defaults.
  *
  * Local runs use `local[N]`; on a real cluster the same conf block applies
  * unchanged (master comes from spark-submit). Defaults chosen for the
  * 100 TB design point:
  *   - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  *     and broadcast-join demotion/promotion based on observed sizes.
  *   - shuffle.partitions sized to the local core count for tests; on a
  *     cluster AQE's coalescing makes the initial number non-critical.
  *   - `nanosAsLong` so parquet TIMESTAMP(NANOS) columns (one of the
  *     encodings producers have used for `events.ts`) read as bigint
  *     nanoseconds instead of failing; `Tables.tsUsColumn` then adapts to
  *     whichever type actually arrives.
  *   - `InferFiltersFromGenerate` EXCLUDED: the rule rewrites
  *     `Generate(explode(e))` to first filter `size(e) > 0 AND
  *     isnotnull(e)`, and predicate pushdown then substitutes alias
  *     definitions through every Project below — so a computed array
  *     (shingle sets, token splits: the engine's hottest explode inputs)
  *     is evaluated THREE times per row, two of them inside a
  *     non-codegen Filter. Measured on the trigram-shingle explode at
  *     100×: 48.9 s → 0.7 s (70×) with the rule off; every
  *     explode-over-computed-array family (d2/d4/d7/t*) pays the same
  *     tax. The inferred filter buys nothing here — Generate itself
  *     skips empty arrays, and no plan of ours has an exchange between
  *     the inferred filter and the generate. The hot library operators
  *     ALSO use [[graft.functions.ArrayOps.explodeDense]] (explode_outer
  *     + drop the null row, which the rule cannot touch) so they keep
  *     the fast shape under sessions graft did not build.
  */
object Session {

  /** Keep harness residue out of the repo root. Derby (the embedded
    * metastore db some catalog paths boot) resolves RELATIVE database
    * paths and drops `derby.log` under `derby.system.home`; pointing it at
    * `target/` moves both `metastore_db/` and `derby.log` there.
    * `spark.sql.warehouse.dir` (set in [[get]]) moves `spark-warehouse/`.
    * Must run before Derby first boots in the JVM — get() and tune() both
    * call it, so every graft entry point is covered.
    */
  def quietResidue(): Unit = {
    val t = new java.io.File("target")
    t.mkdirs()
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", t.getAbsolutePath)
  }

  /** Generated classes Spark keeps per JVM (`spark.sql.codegen.cache.maxEntries`,
    * default 100). A query whose classes were evicted recompiles its whole
    * plan on its next run: at the default, one round of the benchmark's
    * dashboard queries (about 240 distinct classes) evicted everything
    * between rounds, and each query compiled 3-63 classes again on every
    * call. Measured working sets under this size, with nothing evicted:
    * ~260 classes for a dashboard run, 2,631 for a whole sf0.01 Verify run
    * (all 229 rows in one JVM) — 4096 leaves ~1.5× headroom over the
    * larger. What the retained classes cost: Verify ends with 240 MB of
    * Metaspace used, against 225 MB when the cache held 100.
    */
  private[graft] val CodegenCacheEntries = 4096

  /** The two streaming confs, which cut the fixed cost of a streaming
    * query. Every streaming query runs on a clone of its session
    * (`cloneSession()`), and each clone has a new session UUID:
    *   - `spark.sql.artifact.isolation.enabled=false`: with isolation on,
    *     executors build one classloader per session UUID, and Spark's
    *     codegen class cache is keyed by (context classloader, code), so
    *     every query compiled its classes again in its tasks, byte-identical
    *     to the last query's (3 per ingest batch). With it off, tasks use
    *     the application's classloader and the cached classes. What this
    *     gives up is per-session isolation of jars, files and classes added
    *     to a session (`addArtifact`, a Spark Connect feature); graft adds
    *     none.
    *   - `spark.sql.streaming.checkpointFileManagerClass`:
    *     [[graft.streaming.SchemeCheckpointFileManager]], which writes the
    *     checkpoint logs of a `file:` path through Hadoop's `FileSystem`
    *     instead of `FileContext`, whose rename forks a `stat` process per
    *     call, and leaves every other scheme to Spark's default.
    *     [[tune]] sets it only on a session that names no manager of its
    *     own.
    */
  private[graft] val NoArtifactIsolation = "spark.sql.artifact.isolation.enabled" -> "false"
  private[graft] val CheckpointManager = graft.streaming.SchemeCheckpointFileManager.ConfKey ->
    classOf[graft.streaming.SchemeCheckpointFileManager].getName

  /** The one session factory: a minimal `local[cores]` builder (the
    * settings that only take effect at construction), then [[tune]] for
    * graft's runtime confs, optimizer rule and `graft_*` SQL functions.
    *
    * Two construction-time settings [[tune]] cannot apply to a running
    * session:
    *   - the codegen class cache size ([[CodegenCacheEntries]]). The conf
    *     is static and read once per JVM, when the first class compiles, so
    *     a session built outside graft must set it on its own builder
    *     (before any query runs);
    *   - [[graft.plans.GraftExtensions]], whose physical rule
    *     ([[graft.plans.BindFilterLiterals]]) binds filter literals so a
    *     query re-run with new parameters reuses its classes.
    *
    * The builder also carries the two streaming confs [[tune]] sets
    * ([[NoArtifactIsolation]], [[CheckpointManager]]), so the session has
    * them from its first query.
    */
  def get(cores: Int = 32): SparkSession = {
    quietResidue()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config(NoArtifactIsolation._1, NoArtifactIsolation._2)
      .config(CheckpointManager._1, CheckpointManager._2)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }

  /** Run `body` with runtime confs temporarily overridden, restoring the
    * prior values (or unsetting) afterwards. The override only affects
    * jobs EXECUTED inside `body` — Spark reads runtime confs at execution,
    * not at DataFrame construction — so wrap the ACTION (count/write/
    * collect), not the operator call. Built for the
    * objectHashAggregate.fallbackThreshold hazard documented on
    * [[tune]]: e.g.
    * `Session.withConf(spark, "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128") { df.write.parquet(p) }`
    * restores sort-fallback safety around an unbounded-buffer collect on
    * a high-cardinality grouping.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) =>
      k -> (try Option(spark.conf.get(k)) catch { case _: Exception => None })
    }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => try spark.conf.unset(k) catch { case _: Exception => () }
    }
  }

  /** Apply graft's runtime-settable defaults to a session: [[get]]'s own,
    * or one built outside graft (the library's adaptation point — see
    * `Tables.events`). Static confs are skipped by Spark automatically when
    * already fixed. Also registers graft's optimizer rule
    * ([[graft.plans.CseFilterProject]], once) and the `graft_*` SQL
    * functions (re-registration overwrites in place), so a tuned session
    * plans the same shapes and has the same SQL surface as [[get]].
    * (`spark.sql.extensions=graft.plans.GraftExtensions` installs the rule
    * and functions, not the confs.) Also sets
    * the streaming confs ([[NoArtifactIsolation]], [[CheckpointManager]]);
    * they apply to the streaming queries started after this call. Two
    * things only a session's builder can set stay out of reach here: the
    * codegen class cache size and graft's physical rule — see [[get]].
    */
  def tune(spark: SparkSession): SparkSession = {
    quietResidue()
    val runtime = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // ObjectHashAggregate falls back to SORT-BASED aggregation once a
      // task's hash map passes this many keys (default 128) — for graft's
      // typed aggregates that means sorting the ENTIRE input stream
      // (measured at 1000×: the 30k-key HLL state build spilled 27.6 GB
      // and the 400-shard freq-sketch build 17.7 GB, both pure fallback
      // sorts). Every graft TypedImperativeAggregate buffer is bounded by
      // construction (HLL image ≈ 4 KB fixed), so 2048 buffers/task is
      // ~10–100 MB — far cheaper than the sort it replaces. Re-measured
      // with the raise: both builds zero spill.
      //
      // HAZARD (documented, deliberate): the conf is session-wide, so it
      // equally lets UNBOUNDED-buffer ObjectHashAggregates — `median` /
      // `percentile` (a value → count map per group; Agg's median plans
      // it), collect_list, collect_set — hold up to 2048 buffers per task
      // before falling back to sort. On a high-cardinality grouping with
      // wide per-group value sets that is an executor OOM risk the 128
      // default would have converted into (slow but safe) sort fallback.
      // It cannot be scoped per-operator from a lazy library API — the
      // threshold is read from the session conf when the plan EXECUTES,
      // not when the DataFrame is built — so callers mixing graft's
      // bounded-buffer sketches with their own unbounded collects on
      // hot keys should bracket the latter with [[withConf]] restoring
      // the 128 default.
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2048",
      "spark.sql.session.timeZone" -> "UTC",
      // a whole-stage class is named after its codegen stage id, and AQE
      // numbers a query's stages in the order they finish, which varies
      // run to run: the same plan then compiles its stage classes again
      // under new names (4-8 classes on a repeated dashboardChain call)
      "spark.sql.codegen.useIdInClassName" -> "false",
      NoArtifactIsolation)
    runtime.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    // a caller's own checkpoint manager (an object-store one, say) stays
    if (spark.conf.getOption(CheckpointManager._1).isEmpty)
      spark.conf.set(CheckpointManager._1, CheckpointManager._2)
    // MERGE the generate-filter exclusion into any exclusions the caller's
    // session already carries — a plain set() would silently re-enable
    // them (round-13 self-review)
    val inferRule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val existing = try spark.conf.get("spark.sql.optimizer.excludedRules")
      catch { case _: Exception => null }
    val merged = Option(existing).map(_.split(",").map(_.trim).filter(_.nonEmpty))
      .getOrElse(Array.empty[String])
    if (!merged.contains(inferRule))
      try spark.conf.set("spark.sql.optimizer.excludedRules",
        (merged :+ inferRule).mkString(","))
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    // the graft optimizer rule and functions travel with tuning too: a
    // session built outside graft must plan the same shapes as Session.get
    graft.plans.GraftExtensions.addOptimizerRule(spark)
    graft.plans.GraftExtensions.registerFunctions(spark)
    spark
  }
}
