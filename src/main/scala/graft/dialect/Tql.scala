package graft.dialect

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.gf
import graft.operators.{Grouping, Sampling}

/** TQL → DataFrame compiler (SURVEY.md §7 `dialect/`).
  *
  * Mirrors the reference pipeline (`cpp/tql/executor.hpp`,
  * `cpp/query_core/statement.hpp:86-106` statement = {select_list, where,
  * order, limit, sampler, group, ungroup}) but emits a Catalyst logical
  * plan instead of compiled functors: FROM/JOIN → WHERE → GROUP/UNGROUP →
  * SELECT → SAMPLE → ORDER → LIMIT/OFFSET, set ops across statements.
  * All execution stays declarative, so pushdown/pruning/codegen apply.
  *
  * TQL-specific semantics implemented here:
  *  - elementwise arithmetic/comparison on array columns (zip_with /
  *    transform), so `L2_NORM(a - b)` works like `cpp/nd/arithmetic.hpp`
  *  - 0-based array indexing with Python negatives + [a:b:c] slices
  *    (`tql.md:587-604`); string index on a JSON column = key access
  *  - glob LIKE/ILIKE: `*`→`%`, `?`→`_` (`tql.md:207-228`)
  *  - GROUP BY reshapes to ordered sequences; reductions (SUM/AVG/...)
  *    then act per group (`tql.md:472`, `group_statement.hpp`)
  *  - SAMPLE BY weight [REPLACE] consumes LIMIT as the sample size
  *    (`sample_statement.hpp:15-106`)
  *  - `?` positional params bound as literals (`expr.hpp:107-126`)
  */
object Tql {

  val defaultSeed = 42L

  // ---- prepared/parameterized plan reuse (`cpp/tql/tql.hpp:81-103`
  // prepare_query/run_batch; `cpp/tql/executor.hpp:49,107` query cache).
  // Query text parses once (global AST cache); a Prepared additionally
  // caches the compiled DataFrame per parameter binding, so a repeated
  // run returns the SAME frame — whose analyzed/optimized plan Spark
  // reuses — skipping parse, compile, and analysis entirely.

  /** observability counters (spec-gated: a cache hit must not bump these) */
  private[graft] val parseCount = new java.util.concurrent.atomic.AtomicLong
  private[graft] val compileCount = new java.util.concurrent.atomic.AtomicLong

  private val astCache =
    new java.util.concurrent.ConcurrentHashMap[String, ast.Query]()

  private def parseCached(tql: String): ast.Query =
    astCache.computeIfAbsent(tql, t => { parseCount.incrementAndGet(); TqlParser(t) })

  /** A parsed-once, compiled-per-binding query handle. */
  final class Prepared private[Tql] (spark: SparkSession,
      resolve: String => DataFrame, q: ast.Query) {
    private val plans =
      new java.util.concurrent.ConcurrentHashMap[Seq[Any], DataFrame]()
    /** compile (or fetch) the plan for one parameter binding */
    def run(params: Seq[Any] = Nil): DataFrame =
      plans.computeIfAbsent(params, p => compileAst(spark, q, (n, _) => resolve(n), p))
    /** run_batch: one DataFrame per binding, plan-cached across calls */
    def runBatch(paramSets: Seq[Seq[Any]]): Seq[DataFrame] = paramSets.map(run)
  }

  /** Prepare against the driver's scale-factor dir tables. */
  def prepare(spark: SparkSession, dir: String, tql: String): Prepared =
    new Prepared(spark, name => graft.sources.Tables(spark, dir, name),
      parseCached(tql))

  /** Materialized query cache — the executor-side result cache the
    * reference keys by (query, params) (`cpp/tql/executor.hpp:107`
    * `query_cache_`). A hit returns the SAME persisted DataFrame: zero
    * re-parse, re-compile, or re-execute; Spark reads the cached blocks.
    * Capacity-bounded LRU; evicted entries unpersist their blocks. */
  object ResultCache {
    private[graft] var maxEntries = 32
    private type K = (String, String, Seq[Any])
    private val lru = new java.util.LinkedHashMap[K, DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, DataFrame]): Boolean =
        if (size() > maxEntries) { e.getValue.unpersist(blocking = false); true }
        else false
    }
    def run(spark: SparkSession, dir: String, tql: String,
        params: Seq[Any] = Nil): DataFrame = lru.synchronized {
      val k = (dir, tql, params)
      Option(lru.get(k)).getOrElse {
        val df = query(spark, dir, tql, params)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        lru.put(k, df)
        df
      }
    }
    def invalidate(): Unit = lru.synchronized {
      lru.values.forEach(_.unpersist(false)); lru.clear()
    }
    private[graft] def entries: Int = lru.synchronized(lru.size())
  }

  /** Compile + run against the driver's scale-factor dir tables. */
  def query(spark: SparkSession, dir: String, tql: String,
      params: Seq[Any] = Nil): DataFrame =
    withDataset(dir) {
      compile(spark, tql, {
        case ast.SelfTable => throw new IllegalArgumentException(
          "FROM-less query needs a dataset context: use Tql.queryDataset(ds, ...)")
        case name => graft.sources.Tables(spark, dir, name)
      }, params)
    }

  /** Capability gating (`cpp/tql/options.hpp:7-31`): embedders restrict
    * what query text may do (a web-facing endpoint disallows nested
    * queries or grouping; a pure filter context disallows projection
    * lists). Violations throw BEFORE compilation; `parsingOnly` stops
    * after the validation pass. `useIndex=false` disables the ANN top-k
    * route (the reference's linear path). Presets mirror the reference's
    * named configs. */
  final case class Options(
      allowNestedQuery: Boolean = true,
      allowSelectionList: Boolean = true,
      allowGroup: Boolean = true,
      allowUngroup: Boolean = true,
      useIndex: Boolean = true,
      parsingOnly: Boolean = false,
      /** per-query Hadoop/FS conf overrides (credentials, endpoints,
        * scheme impls) applied to every scan in the query — the
        * reference carries creds in query params
        * (`cpp/tql/executor.hpp:82`, `cpp/storage/provider_base.hpp`) */
      storageOptions: Map[String, String] = Map.empty,
      /** per-ALIAS scan conf for cross-cloud joins: the reference
        * carries credentials PER DATASET when a query joins datasets
        * living in different stores (`cpp/tql/tql.hpp:52-70` dataset
        * list with per-entry creds; `cpp/tql/table.hpp:31`). Keyed by
        * the alias (`FROM "url" AS a`) or, for unaliased refs, the
        * table name/url itself; the matching map is merged OVER
        * [[storageOptions]] into that alias's scan conf only, so two
        * sides of a join can present conflicting values for the same
        * conf key (e.g. different access keys for the same scheme). */
      storageOptionsByAlias: Map[String, Map[String, String]] = Map.empty)

  object Options {
    val allowEverything: Options = Options()
    val filterOnly: Options = Options(allowNestedQuery = false,
      allowSelectionList = false, allowGroup = false, allowUngroup = false)
    val oneLevelFilterOnly: Options = filterOnly
    val linearOnly: Options = Options(useIndex = false)
    val webEnvironment: Options = Options(allowNestedQuery = false,
      allowGroup = false, allowUngroup = false)
  }

  /** Validate a parsed query against capability options; throws on the
    * first violation. Returns the AST so parsingOnly callers can stop
    * here. */
  private def validate(q: ast.Query, opts: Options): ast.Query = {
    def deny(what: String): Nothing =
      throw new IllegalArgumentException(s"query uses $what, disallowed by options")
    def checkSel(sel: ast.Select, nested: Boolean): Unit = {
      if (nested && !opts.allowNestedQuery) deny("a nested query")
      if (!opts.allowSelectionList &&
          !(sel.projs.size == 1 && sel.projs.head.e == ast.Star))
        deny("a selection list")
      if (!opts.allowGroup && sel.groupBy.nonEmpty) deny("GROUP BY")
      if (!opts.allowUngroup && sel.ungroup.nonEmpty) deny("UNGROUP BY")
      (sel.from +: sel.joins.map(_.src)).foreach {
        case ast.SubQuery(sub, _) => sub.selects.foreach(checkSel(_, nested = true))
        case _ => ()
      }
    }
    q.selects.foreach(checkSel(_, nested = false))
    q
  }

  /** Gated entry: validate against `opts`, then compile unless
    * parsingOnly. */
  def queryWithOptions(spark: SparkSession, dir: String, tql: String,
      opts: Options, params: Seq[Any] = Nil): Option[DataFrame] = {
    val q = validate(parseCached(tql), opts)
    if (opts.parsingOnly) None
    else Some {
      val saved = indexRoutingEnabled.get()
      indexRoutingEnabled.set(opts.useIndex)
      try withDataset(dir) {
        compileAst(spark, q,
          (name, alias) => name match {
            case ast.SelfTable => throw new IllegalArgumentException(
              "FROM-less query needs a dataset context: use Tql.queryDataset(ds, ...)")
            case n =>
              // per-alias conf wins over the query-wide map; an unaliased
              // ref is addressable by its name/url
              val perAlias = alias.flatMap(opts.storageOptionsByAlias.get)
                .orElse(opts.storageOptionsByAlias.get(n))
                .getOrElse(Map.empty)
              graft.sources.Tables(spark, dir, n, opts.storageOptions ++ perAlias)
          }, params)
      } finally indexRoutingEnabled.set(saved)
    }
  }

  /** use_index gate for the ANN route (linear_only preset) */
  private val indexRoutingEnabled =
    ThreadLocal.withInitial[Boolean](() => true)

  /** Dataset-provided functions discovered at query time (reference
    * `cpp/tql/functions_registry.hpp:15-33`; lookup during input
    * resolution `cpp/tql/input.hpp:109-152`): a dataset ships its own
    * named functions, callable from TQL only when querying THAT dataset.
    * Keyed by (dataset dir, upper-cased name); consulted by the
    * expression compiler's fallthrough before Spark's builtin/session
    * function resolution, so a dataset function shadows a same-named
    * builtin for its own dataset and is invisible elsewhere. */
  object DatasetFunctions {
    type Impl = Seq[Column] => Column
    @volatile private var entries: Map[(String, String), Impl] = Map.empty

    def register(dir: String, name: String, impl: Impl): Unit =
      entries += (norm(dir), name.toUpperCase) -> impl

    def lookup(dir: String, name: String): Option[Impl] =
      entries.get((norm(dir), name.toUpperCase))

    def clear(): Unit = entries = Map.empty

    private def norm(d: String): String = d.stripSuffix("/")
  }

  /** Engine-global TQL scalar functions implemented as Column
    * compositions (the text-pipeline surface: quality scoring, token
    * estimates, fingerprints). Consulted by the expression compiler
    * after dataset-scoped functions and before Spark's builtin/session
    * registry, so a dataset function can still shadow one of these for
    * its own dataset. Column-level on purpose: these compose
    * higher-order functions that have no single Catalyst node to hand
    * to the session function registry. */
  object GlobalFunctions {
    type Impl = Seq[Column] => Column
    @volatile private var entries: Map[String, Impl] = Map(
      "QUALITY_SCORE" -> (a => graft.operators.TextAnalysis.qualityScore(a.head)),
      "EST_TOKEN_COUNT" -> (a => graft.operators.TextAnalysis.estTokenCount(a.head)),
      "BAG_FINGERPRINT" -> (a => graft.operators.TextAnalysis.bagFingerprint(a.head)),
      "NORMALIZE_UNICODE" -> (a => graft.functions.gf.normalize_unicode(a.head)),
      "STRIP_ACCENTS" -> (a => graft.functions.gf.strip_accents(a.head)),
      "PII_REDACT" -> (a => graft.operators.Pii.redact(a.head)),
      "REDACT_CARDS" -> (a => graft.operators.Pii.redactCards(a.head)),
      "DEFLATE_RATIO" -> (a => graft.functions.gf.deflate_ratio(a.head)),
      "CHAR_ENTROPY" -> (a => graft.functions.gf.char_entropy(a.head)),
      "STRIP_HTML" -> (a => graft.functions.gf.strip_html(a.head)),
      "EXTRACT_TEXT" -> (a => graft.functions.gf.extract_text(a.head)),
      "FIX_MOJIBAKE" -> (a => graft.functions.gf.fix_mojibake(a.head)),
      "URL_CANONICALIZE" -> (a => graft.operators.Urls.canonicalize(a.head)),
      "URL_HOST" -> (a => graft.operators.Urls.host(a.head)),
      "APEX_DOMAIN" -> (a => graft.operators.Urls.apexDomain(a.head)))

    def register(name: String, impl: Impl): Unit =
      entries += name.toUpperCase -> impl

    def lookup(name: String): Option[Impl] = entries.get(name.toUpperCase)
  }

  /** dataset dir of the query being compiled (dynamic scope, like
    * indexRoutingEnabled) — gives the expression compiler its
    * DatasetFunctions key */
  private val currentDataset =
    ThreadLocal.withInitial[Option[String]](() => None)

  private def withDataset[T](dir: String)(f: => T): T = {
    val saved = currentDataset.get()
    currentDataset.set(Some(dir))
    try f finally currentDataset.set(saved)
  }

  /** table identity of the FROM-less (SelfTable) source — lets index
    * routes fire for `ds.query("... ORDER BY COSINE_SIMILARITY(...)")`
    * where the reference resolves indexes off the dataset handle itself
    * (`cpp/tql/tql.hpp:171` runs against the open dataset, not a name) */
  private val currentTable =
    ThreadLocal.withInitial[Option[String]](() => None)

  private def withTable[T](table: String)(f: => T): T = {
    val saved = currentTable.get()
    currentTable.set(Some(table))
    try f finally currentTable.set(saved)
  }

  /** source table name the index routes key on: explicit FROM name, or —
    * for a FROM-less select — the open handle's table */
  private def routeTable(from: ast.Source): Option[String] = from match {
    case ast.TableRef(ast.SelfTable, _) => currentTable.get()
    case ast.TableRef(n, _) => Some(n)
    case _ => None
  }

  /** `explain_query` analog (`python/deeplake/__init__.pyi:837`,
    * `cpp/tql/explain_query_result.hpp`): a human-readable plan plus a
    * machine-readable JSON form, WITHOUT executing. The formatted text is
    * Spark's physical explain (scan pushdown, exchanges, codegen spans —
    * the things worth auditing before a 100 TB run); the JSON is the
    * optimized logical plan tree. */
  final case class ExplainResult(result: String, resultJson: String)

  def explainQuery(spark: SparkSession, dir: String, tql: String,
      params: Seq[Any] = Nil): ExplainResult = {
    val qe = query(spark, dir, tql, params).queryExecution
    ExplainResult(
      qe.explainString(org.apache.spark.sql.execution.FormattedMode),
      qe.optimizedPlan.toJSON)
  }

  /** The reference's main entry `ds.query("SELECT * WHERE ...")`
    * (`tql.md:14-30`): FROM defaults to the dataset itself; explicit
    * FROM "url" references still resolve through the Hadoop FS layer. */
  def queryDataset(ds: DataFrame, tql: String, params: Seq[Any] = Nil): DataFrame = {
    val spark = ds.sparkSession
    compile(spark, tql, {
      case ast.SelfTable => ds
      case url if graft.sources.Tables.isUrl(url) =>
        graft.sources.Tables.openUrl(spark, url)
      case name => throw new IllegalArgumentException(
        s"dataset query resolves only the dataset itself or URL refs, got: $name")
    }, params)
  }

  /** The reference's `deeplake.open(url)` handle (`python/deeplake/
    * __init__.pyi:700`): a named dataset whose FROM-less queries keep
    * their identity, so dataset-scoped functions, the ANN top-k route
    * and the BM25 route all fire exactly as they would with an explicit
    * `FROM <table>`. Sibling tables in the same dir stay addressable by
    * name (the reference joins datasets under one org the same way). */
  final case class DatasetHandle(spark: SparkSession, dir: String, table: String) {
    def df: DataFrame = graft.sources.Tables(spark, dir, table)
    def query(tql: String, params: Seq[Any] = Nil): DataFrame =
      withDataset(dir)(withTable(table) {
        compile(spark, tql, {
          case ast.SelfTable => df
          case url if graft.sources.Tables.isUrl(url) =>
            graft.sources.Tables.openUrl(spark, url)
          case name => graft.sources.Tables(spark, dir, name)
        }, params)
      })
    def explainQuery(tql: String, params: Seq[Any] = Nil): ExplainResult = {
      val qe = query(tql, params).queryExecution
      ExplainResult(
        qe.explainString(org.apache.spark.sql.execution.FormattedMode),
        qe.optimizedPlan.toJSON)
    }
  }

  def open(spark: SparkSession, dir: String, table: String): DatasetHandle =
    DatasetHandle(spark, dir, table)

  /** `ANALYZE <table> [(col, ...)]` — the PG/DuckDB ANALYZE analog the
    * reference gets from its host engines: computes row count, per-column
    * NDV/min/max and MCV frequencies into [[graft.plans.StatsCatalog]],
    * where the CboHints optimizer rule (GraftExtensions) uses them for
    * MCV-aware broadcast decisions on later queries. Returns a one-row
    * summary. Column list defaults to every atomic top-level column. */
  private val AnalyzeRe =
    """(?is)^\s*ANALYZE\s+([A-Za-z_]\w*)\s*(?:\(\s*([^)]*?)\s*\))?\s*$""".r

  private def runAnalyze(spark: SparkSession, table: String, colsSpec: String,
      resolve: String => DataFrame): DataFrame = {
    val df = resolve(table)
    val cols =
      if (colsSpec == null || colsSpec.trim.isEmpty)
        df.schema.fields.filter { f =>
          import org.apache.spark.sql.types._
          f.dataType match {
            case _: NumericType | StringType | BooleanType | DateType |
                 TimestampType | TimestampNTZType => true
            case _ => false
          }
        }.map(_.name).toSeq
      else colsSpec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val stats = graft.plans.StatsCatalog.analyze(df, cols).getOrElse(
      throw new IllegalArgumentException(
        s"ANALYZE $table: not a single file-source scan, cannot key stats"))
    import spark.implicits._
    Seq((table, stats.rowCount, cols.length.toLong))
      .toDF("table_name", "row_count", "num_cols")
  }

  /** `CREATE INDEX ON <table|"root"> (<col>) TYPE <type> [ID <idcol>]
    * [PATHS 'p', ...]` / `DROP INDEX ...` — the statement form of the
    * reference's `Column.create_index`/`drop_index`
    * (`python/deeplake/__init__.pyi:1678,1762`). A quoted path target
    * that is a versioned [[graft.sources.Snapshots]] root gets a
    * TABLE-OWNED index (persisted under the root, re-registered on any
    * later open); a named table gets a session index persisted in the
    * local index cache and registered so the CONTAINS/EQUALS/JSON
    * rewrite (plans.IndexRewrite) or the BM25/ANN top-k routes fire.
    * Returns a one-row summary. */
  private val CreateIndexRe =
    """(?is)^\s*CREATE\s+INDEX\s+ON\s+("[^"]+"|[A-Za-z_]\w*)\s*\(\s*([A-Za-z_]\w*)\s*\)\s+TYPE\s+([A-Za-z_]\w*)(?:\s+ID\s+([A-Za-z_]\w*))?(?:\s+PATHS\s+(.+?))?\s*$""".r
  private val DropIndexRe =
    """(?is)^\s*DROP\s+INDEX\s+ON\s+("[^"]+"|[A-Za-z_]\w*)\s*\(\s*([A-Za-z_]\w*)\s*\)\s+TYPE\s+([A-Za-z_]\w*)\s*$""".r

  /** (catalog key, session artifact dir) for a non-versioned target.
    * The key must equal the root path the table's SCANS resolve to
    * (that is what IndexRewrite looks up): the URL itself for a quoted
    * path/URL target, `<dataset dir>/<name>.parquet` for a named
    * table. Artifacts go to the local cache (the source dir may be
    * read-only — e.g. the driver's corpus). */
  private def namedIndexHome(name: String, colName: String, tpe: String): (String, String) = {
    val key =
      // normalize exactly like the scan side will (HadoopFsRelation
      // rootPaths stringify through Path, "file:///x" -> "file:/x")
      if (graft.sources.Tables.isUrl(name))
        new org.apache.hadoop.fs.Path(name).toString
          .stripPrefix("file:").stripSuffix("/")
      else {
        val dsDir = currentDataset.get().getOrElse(throw new IllegalArgumentException(
          "CREATE/DROP INDEX on a named table needs a dataset context"))
        s"$dsDir/$name.parquet"
      }
    val dir = new java.io.File(
      s"target/graft-ddl-indexes/${graft.operators.IndexStore.md5hex(key)}/${colName}__$tpe").getAbsolutePath
    (key, dir)
  }

  private def runCreateIndex(spark: SparkSession, target: String, colName: String,
      tpe0: String, idColOpt: Option[String], pathsSpec: Option[String],
      resolve: String => DataFrame): DataFrame = {
    import graft.operators.{AnnIndex, Bm25, InvertedIndex}
    // shared normalization: aliases (INVERTED_INDEX, QUANTIZED) resolve
    // to canonical names identically on CREATE and DROP; unknown types
    // throw here, never fall through
    val tpe = graft.sources.Snapshots.normType(tpe0)
    val jsonPaths = pathsSpec.toSeq.flatMap(_.split(",").map(_.trim)
      .filter(_.nonEmpty).map(_.stripPrefix("'").stripSuffix("'")))
    val quoted = target.startsWith("\"")
    val name = target.stripPrefix("\"").stripSuffix("\"")
    val where =
      if (quoted && graft.sources.Snapshots.isRoot(name)) {
        val df = graft.sources.Snapshots.open(spark, name)
        val idCol = idColOpt.getOrElse(df.columns.head)
        graft.sources.Snapshots.createIndex(spark, name, colName, tpe, idCol, jsonPaths)
      } else {
        val df = resolve(name)
        val idCol = idColOpt.getOrElse(df.columns.head)
        val (key, dir) = namedIndexHome(name, colName, tpe)
        import graft.plans.IndexCatalog
        tpe match {
          case "inverted" =>
            InvertedIndex.build(df, idCol, colName).write.mode("overwrite").parquet(dir)
            IndexCatalog.register(key, colName, dir, idCol, IndexCatalog.Contains)
          case "exact" =>
            InvertedIndex.buildExact(df, idCol, colName).write.mode("overwrite").parquet(dir)
            IndexCatalog.register(key, colName, dir, idCol, IndexCatalog.Equals)
          case "json" =>
            require(jsonPaths.nonEmpty, "JSON index needs PATHS '...'")
            InvertedIndex.buildJson(df, idCol, colName, jsonPaths)
              .write.mode("overwrite").parquet(dir)
            IndexCatalog.register(key, colName, dir, idCol, IndexCatalog.Json, jsonPaths)
          case "bm25" =>
            Bm25.save(spark, df, idCol, colName, dir)
            Bm25.Catalog.register(name, colName, idCol, Bm25.load(spark, dir))
          case "clustered" | "clustered_quantized" =>
            val n = math.max(2, math.min(64, math.sqrt(df.count().toDouble).toInt / 4))
            AnnIndex.save(AnnIndex.build(df, idCol, colName, nClusters = n,
              quantized = tpe == "clustered_quantized"), dir)
            AnnIndex.Catalog.register(name, colName, idCol, AnnIndex.load(spark, dir))
          case other => throw new IllegalArgumentException(
            s"unsupported index type '$other'")
        }
        dir
      }
    import spark.implicits._
    Seq((name, colName, tpe, where)).toDF("table_name", "column_name", "index_type", "path")
  }

  private def runDropIndex(spark: SparkSession, target: String, colName: String,
      tpe0: String): DataFrame = {
    import graft.operators.{AnnIndex, Bm25}
    import graft.plans.IndexCatalog
    val tpe = graft.sources.Snapshots.normType(tpe0) // throws on unknown:
                                        // a typo must not fall through to
                                        // the ANN case and unregister a
                                        // live clustered index
    val quoted = target.startsWith("\"")
    val name = target.stripPrefix("\"").stripSuffix("\"")
    if (quoted && graft.sources.Snapshots.isRoot(name))
      graft.sources.Snapshots.dropIndex(spark, name, colName, tpe)
    else {
      val (key, dir) = namedIndexHome(name, colName, tpe)
      tpe match {
        case "inverted" => IndexCatalog.unregister(key, colName, IndexCatalog.Contains)
        case "exact" => IndexCatalog.unregister(key, colName, IndexCatalog.Equals)
        case "json" => IndexCatalog.unregister(key, colName, IndexCatalog.Json)
        case "bm25" => Bm25.Catalog.unregister(name, colName)
        case _ => AnnIndex.Catalog.unregister(name, colName)
      }
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    import spark.implicits._
    Seq((name, colName, tpe, "dropped")).toDF("table_name", "column_name", "index_type", "status")
  }

  /** `SHOW INDEXES ON "<root>"` — list a versioned table's owned
    * indexes from its manifest (one row per index). */
  private val ShowIndexesRe =
    """(?is)^\s*SHOW\s+INDEXES\s+ON\s+"([^"]+)"\s*$""".r

  private def runShowIndexes(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    require(graft.sources.Snapshots.isRoot(root), s"$root is not a versioned table root")
    graft.sources.Snapshots.indexes(root)
      .map { case (c, t) => (root, c, t) }
      .toDF("table_root", "column_name", "index_type")
  }

  def compile(spark: SparkSession, tql: String, resolve: String => DataFrame,
      params: Seq[Any] = Nil): DataFrame = tql match {
    case AnalyzeRe(table, colsSpec) => runAnalyze(spark, table, colsSpec, resolve)
    case CreateIndexRe(target, colName, tpe, idCol, paths) =>
      runCreateIndex(spark, target, colName, tpe, Option(idCol), Option(paths), resolve)
    case DropIndexRe(target, colName, tpe) =>
      runDropIndex(spark, target, colName, tpe)
    case ShowIndexesRe(root) => runShowIndexes(spark, root)
    case _ => compileAst(spark, parseCached(tql), (n, _) => resolve(n), params)
  }

  /** alias-aware resolver: (table name or url, `AS` alias if present) —
    * the alias lets per-alias scan conf reach the right side of a
    * cross-store join (see [[Options.storageOptionsByAlias]]) */
  private def compileAst(spark: SparkSession, q: ast.Query,
      resolve: (String, Option[String]) => DataFrame, params: Seq[Any]): DataFrame = {
    compileCount.incrementAndGet()
    val branches = q.selects.map(s => compileSelect(spark, s, resolve, params))
    val df = q.ops.zip(branches.tail).foldLeft(branches.head) {
      case (acc, ("UNION", b)) => acc.unionByName(b)
      case (acc, ("INTERSECT", b)) => acc.intersect(b)
      case (acc, ("EXCEPT", b)) => acc.except(b)
      case (_, (op, _)) => throw new IllegalArgumentException(s"bad set op $op")
    }
    q.explain match {
      case None => df
      case Some(mode) =>
        // EXPLAIN statement: one row, one `plan` column — the statement
        // never executes the query (mirrors Spark SQL's EXPLAIN output
        // shape and the reference's explain_query result object)
        import org.apache.spark.sql.execution._
        val qe = df.queryExecution
        val text = mode match {
          case "JSON" => qe.optimizedPlan.toJSON
          case "EXTENDED" => qe.explainString(ExtendedMode)
          case "CODEGEN" => qe.explainString(CodegenMode)
          case "COST" => qe.explainString(CostMode)
          case _ => qe.explainString(FormattedMode)
        }
        spark.createDataset(Seq(text))(org.apache.spark.sql.Encoders.STRING)
          .toDF("plan")
    }
  }

  // ---------------------------------------------------------------- select

  /** `fnOverrides`: function calls compiled to a pre-computed column —
    * used by index routes whose score only exists as a join output
    * (BM25_SIMILARITY has no per-row formula without the index). */
  private case class Env(df: DataFrame, aliases: Map[String, DataFrame],
      fnOverrides: Map[String, Column] = Map.empty)

  /** internal column carrying a routed BM25 score (never leaks into *) */
  private val Bm25ScoreCol = "__bm25_score"

  private def compileSelect(spark: SparkSession, sel: ast.Select,
      resolve: (String, Option[String]) => DataFrame, params: Seq[Any]): DataFrame = {

    // FROM + JOINs
    val (baseDf, baseAlias, ordName) = source(spark, sel.from, resolve, params)
    var env = Env(baseDf, baseAlias)
    sel.joins.foreach { j =>
      val (rdf, ralias, _) = source(spark, j.src, resolve, params)
      val joined =
        if (j.tpe == "cross") env.df.crossJoin(rdf)
        else if (j.using.nonEmpty) env.df.join(rdf, j.using, j.tpe)
        else {
          val tmpEnv = Env(env.df.crossJoin(rdf), env.aliases ++ ralias)
          env.df.join(rdf, expr(tmpEnv, j.on.get, params), j.tpe)
        }
      env = Env(joined, env.aliases ++ ralias)
    }

    // ORDER BY COSINE_SIMILARITY(col, const) DESC LIMIT k over a table
    // with a registered embedding index → restrict the scan to the
    // index's top-k candidates first (reference `cpp/tql/tql.hpp:171`
    // check_for_top_k_binary_function_search): the driver ranks the
    // index's centroids, one job collects the k candidate ids from the
    // probed clusters, and the scan keeps only `idCol IN (ids)`; the
    // ORDER/LIMIT below then orders only the candidates, so schema and
    // tiebreak semantics are unchanged (result is approximate exactly
    // like the reference's index route). A WHERE clause composes into
    // the search as a candidate pre-filter (the reference runs index
    // queries against a filter bitmap — `cpp/query_core/index_holder.hpp:33`):
    // ids surviving the filter gate the assignment scan, and the search
    // adaptively widens its cluster probe when the filter starves the
    // candidate pool. The quantized index's int8 cosine gate and the PQ
    // index keep the frame search behind a broadcast semi-join.
    // Joins/grouping still disable the route.
    if (indexRoutingEnabled.get()) annTopKRoute(sel, params).foreach { case (vecCol, qVec, k, metric) =>
      routeTable(sel.from) match {
        case Some(tname) =>
          val A = graft.operators.AnnIndex
          val plain = A.Catalog.lookup(tname, vecCol)
          // PQ route fires only when no plain/quantized entry exists (the
          // plain index is the more exact artifact for the same column);
          // PQ's ADC tables approximate the inner product, so it serves
          // cosine only
          val pq = if (plain.isEmpty && metric == "cosine")
            A.Catalog.lookupPq(tname, vecCol) else None
          plain.map(_.idCol).orElse(pq.map(_.idCol)).foreach { idCol =>
            val filterIds = sel.where.map { w =>
              env.df.filter(expr(env, w, params)).select(col(idCol).as("id"))
            }
            val restricted = plain match {
              case Some(entry) if !entry.index.quantized || metric != "cosine" =>
                env.df.filter(env.df(idCol).isin(A.topIds(entry.index, qVec, k,
                  entry.config, idFilter = filterIds, metric = metric): _*))
              case _ =>
                import spark.implicits._
                val qdf = Seq((0, qVec)).toDF("qid", "q_vec")
                val cand = plain match {
                  case Some(entry) => A.search(entry.index, qdf, "qid", "q_vec", k,
                    entry.config, idFilter = filterIds, metric = metric)
                  case None =>
                    val pe = pq.get
                    A.searchPq(pe.index, qdf, "qid", "q_vec", k, pe.config,
                      idFilter = filterIds)
                }
                env.df.join(broadcast(cand.select(col("id").as("__ann_cand_id"))),
                  env.df(idCol) === col("__ann_cand_id"), "left_semi")
            }
            env = env.copy(df = restricted)
          }
        case _ => ()
      }
    }

    // ORDER BY MAXSIM(bag_col, const_bag) DESC LIMIT k — the ColPali
    // arm of the same routing (reference pairs MAXSIM with the embedding
    // index, `docs/docs/guide/rag.md:1377-1413`; `maxsim_pooled` is the
    // single-vector prefilter form, `cpp/nd/norm.hpp:46-56`): the
    // registered index holds the MEAN-POOLED doc vectors, each query
    // vector probes it for k * accuracy_factor pooled candidates, and
    // the exact multi-vector MAXSIM below reranks only the union of the
    // survivors — the scan never ranks the whole corpus on the
    // len(bag) x len(qbag) kernel.
    if (indexRoutingEnabled.get()) maxsimRoute(sel, params).foreach { case (bagCol, qBag, k) =>
      routeTable(sel.from) match {
        case Some(tname) =>
          val A = graft.operators.AnnIndex
          A.Catalog.lookup(tname, bagCol).foreach { entry =>
            import spark.implicits._
            val qdf = qBag.zipWithIndex.map { case (v, i) => (i, v) }
              .toDF("qid", "q_vec")
            val filterIds = sel.where.map { w =>
              env.df.filter(expr(env, w, params)).select(col(entry.idCol).as("id"))
            }
            val cand = A.search(entry.index, qdf, "qid", "q_vec",
                k * math.max(entry.config.accuracyFactor, 1), entry.config,
                idFilter = filterIds, metric = "cosine")
              .select(col("id")).distinct()
            env = env.copy(df = env.df.join(
              broadcast(cand.select(col("id").as("__ann_cand_id"))),
              env.df(entry.idCol) === col("__ann_cand_id"), "left_semi"))
          }
        case _ => ()
      }
    }

    // BM25_SIMILARITY(col, 'query') — the BM25 arm of the same top-k
    // routing (`cpp/deeplake_pg/index_search.cpp:135-169`): the score
    // only exists via the maintained index (idf/avgdl are corpus
    // statistics, not per-row formulas), so the route joins the scored
    // candidates and compiles every BM25_SIMILARITY call to that score
    // column. A WHERE pre-filters the scored ids; docs sharing no query
    // term drop (inner join), matching the reference's index search.
    if (indexRoutingEnabled.get()) bm25Route(sel).foreach { case (tcol, qtext) =>
      routeTable(sel.from) match {
        case Some(tname) =>
          graft.operators.Bm25.Catalog.lookup(tname, tcol).foreach { entry =>
            val filterIds = sel.where.map { w =>
              env.df.filter(expr(env, w, params)).select(col(entry.idCol))
            }
            val terms = qtext.split(" ").toSeq.filter(_.nonEmpty)
            val cand = graft.operators.Bm25
              .scoreWithIndex(entry.index, terms, idFilter = filterIds)
              .select(col("doc_id").as("__bm25_id"), col("score").as(Bm25ScoreCol))
            env = env.copy(
              df = env.df.join(cand,
                env.df(entry.idCol) === col("__bm25_id"), "inner").drop("__bm25_id"),
              fnOverrides = env.fnOverrides +
                ("BM25_SIMILARITY" -> col(Bm25ScoreCol)))
          }
        case _ => ()
      }
    }

    // ROW_NUMBER() pre-pass: the zero-based dataset offset is stamped
    // BEFORE the filter (reference: `SELECT *, ROW_NUMBER() WHERE
    // ROW_NUMBER() < 100` filters on pre-filter offsets, tql.md:416-421)
    // via the distributed zipWithIndex-style plan — never an
    // unpartitioned window over the data
    val allExprs = sel.projs.map(_.e) ++ sel.where.toSeq ++
      sel.groupBy.map(_.e) ++ sel.orderBy.map(_.e) ++ sel.sampleBy.map(_._1).toSeq
    if (allExprs.exists(usesFn(_, "ROW_NUMBER")))
      env = env.copy(df = graft.operators.RowNumber.withRowNumber(env.df, RowNumCol))

    // WHERE
    sel.where.foreach(w => env = env.copy(df = env.df.filter(expr(env, w, params))))

    // EXPAND BY h w [OVERLAP]: tile the (single) tensor column into
    // patches. Patch dims come from the clause; the tensor's own dims
    // come from the column's "shape" metadata when present (the analog
    // of the reference reading them from the column's htype,
    // `cpp/heimdall_common/spatial_column.hpp:19` — attach with
    // Multimodal.withShape), so rectangular tensors tile correctly;
    // without metadata a one-row peek assumes square, matching the
    // reference's imaging examples (tql.md:370-386)
    sel.expand.foreach { ex =>
      val fld = env.df.schema.fields
        .find(_.dataType.isInstanceOf[ArrayType])
        .getOrElse(throw new IllegalArgumentException(
          "EXPAND BY requires an array (tensor) column in the source"))
      val tcol = fld.name
      // a TRUE 2-d tensor (array<array<_>>) carries its dims in the
      // data: flatten row-major and peek (rows, cols) once — the direct
      // analog of the reference's spatial column knowing its own shape
      val nested = fld.dataType.asInstanceOf[ArrayType]
        .elementType.isInstanceOf[ArrayType]
      var df0 = env.df
      val (rows, cols) =
        if (nested) {
          val r = df0.select(size(col(tcol)),
            size(element_at(col(tcol), 1))).limit(1).collect()(0)
          df0 = df0.withColumn(tcol, flatten(col(tcol)))
          (r.getInt(0), r.getInt(1))
        } else if (fld.metadata.contains("shape")) {
          val dims = fld.metadata.getLongArray("shape")
          require(dims.length == 2,
            s"EXPAND BY needs 2-d shape metadata on $tcol, got ${dims.mkString("x")}")
          (dims(0).toInt, dims(1).toInt)
        } else {
          val n = df0.select(size(col(tcol))).limit(1).collect()(0).getInt(0)
          val side = math.sqrt(n.toDouble).toInt
          require(side * side == n,
            s"EXPAND BY on a flat array needs a square tensor (or shape " +
              s"metadata for rectangles); $tcol has $n elements")
          (side, side)
        }
      val keep = df0.columns.filterNot(c => c == tcol || c == RowNumCol).toSeq
      val alias = ex.alias.getOrElse("patch")
      val tiled = Grouping.expandBy(df0, tcol, rows, cols, ex.h, ex.w,
          ex.overlap, keep)
        .withColumnRenamed("patch", alias)
      env = Env(tiled, Map.empty)
    }

    // GROUP BY → sequence reshape (keys stay scalar, every other column
    // referenced downstream becomes an ordered array)
    if (sel.groupBy.nonEmpty) {
      val keyed = sel.groupBy.zipWithIndex.map { case (p, i) =>
        val name = p.alias.getOrElse(p.e match {
          case ast.Ref(parts) => parts.last
          case _ => s"g$i"
        })
        (name, p.e)
      }
      var df = env.df
      val ord = if (df.columns.contains(ordName)) ordName else df.columns.head
      keyed.foreach { case (name, e) =>
        if (!df.columns.contains(name)) df = df.withColumn(name, expr(env.copy(df = df), e, params))
      }
      val keyNames = keyed.map(_._1)
      val referenced = (sel.projs.flatMap(p => refs(p.e)) ++
        sel.orderBy.flatMap(o => refs(o.e)) ++
        sel.sampleBy.toSeq.flatMap(s => refs(s._1))).distinct
      val seqCols = referenced.filterNot(keyNames.contains)
        .filter(df.columns.contains).filterNot(_ == ord)
      var g =
        if (sel.acrossSpace) Grouping.groupAcrossSpace(df, keyNames, ord, seqCols)
        else Grouping.groupToSequences(df, keyNames, ord, seqCols)
      val suffix = if (sel.acrossSpace) "_cat" else "_seq"
      seqCols.foreach(v => g = g.withColumnRenamed(s"$v$suffix", v))
      env = Env(g, Map.empty)
    }

    // UNGROUP BY col [SPLIT n | SPLIT [lengths]] → explode the sequence
    // back to rows (split variants chunk it first —
    // `ungroup_statement.hpp:15-19`)
    sel.ungroup.foreach { ug =>
      val c = ug.col
      val others = env.df.columns.filterNot(_ == c).toSeq
      val exploded = (ug.splitNumber, ug.splitLengths) match {
        case (Some(n), _) => Grouping.ungroupSplitByNumber(env.df, c, n, others)
        case (_, Some(ls)) => Grouping.ungroupSplitByLengths(env.df, c, ls, others)
        case _ => env.df.select(others.map(col) :+
          posexplode(col(c)).as(Seq("pos", c)): _*)
      }
      env = Env(exploded, Map.empty)
    }

    // SELECT list: stage every projection under a temp name so ORDER BY can
    // reference either select aliases or source columns without ambiguity
    val projs = sel.projs
    val hasStar = projs.exists(_.e == ast.Star)
    val nonStar = projs.filterNot(_.e == ast.Star)
    val finals = nonStar.zipWithIndex.map { case (p, i) =>
      val name = p.alias.getOrElse(p.e match {
        case ast.Ref(parts) => parts.last
        case _ => s"col$i"
      })
      (s"__p$i", name, p.e)
    }
    val staged = env.df.select(
      col("*") +: finals.map { case (tmp, _, e) => expr(env, e, params).as(tmp) }: _*)
    var sEnv = Env(staged, env.aliases)

    // SAMPLE BY weight [REPLACE b] LIMIT n — the limit is the sample
    // size. Without a LIMIT, a constant fraction in (0, 1] is the
    // documented Bernoulli form (`tql.md:641`: "SAMPLE BY 0.1 -- 10%
    // random sample") — a seeded per-row coin flip, no count pass.
    var limit = sel.limit
    sel.sampleBy.foreach { case (wExpr, replace) =>
      val constFrac: Option[Double] = wExpr match {
        case ast.Lit(v: Double) => Some(v)
        case ast.Lit(v: Long) => Some(v.toDouble)
        case ast.Param(i) if i < params.size => params(i) match {
          case n: Number => Some(n.doubleValue)
          case _ => None
        }
        case _ => None
      }
      (constFrac, limit) match {
        case (Some(f), None) if f > 0 && f <= 1 && !replace =>
          sEnv = sEnv.copy(df = sEnv.df.sample(withReplacement = false, f, defaultSeed))
        case _ =>
          val w = expr(sEnv, substAliases(wExpr, finals), params)
          val n = limit.map(l => evalInt(l._1, params)).getOrElse(
            throw new IllegalArgumentException(
              "SAMPLE BY requires LIMIT n (or a constant fraction in (0,1] without LIMIT)"))
          limit = None
          val sampled =
            if (replace) Sampling.weightedSampleWithReplacement(sEnv.df, w, n, defaultSeed)
            else Sampling.weightedSample(sEnv.df, w, n, defaultSeed)
          sEnv = sEnv.copy(df = sampled)
      }
    }

    // ORDER BY (select aliases rewritten onto their staged temp columns)
    if (sel.orderBy.nonEmpty) {
      val cols = sel.orderBy.map { o =>
        val c = expr(sEnv, substAliases(o.e, finals), params)
        if (o.asc) c.asc else c.desc
      }
      sEnv = sEnv.copy(df = sEnv.df.orderBy(cols: _*))
    }

    // LIMIT [PERCENT] [OFFSET]
    limit.foreach { case (nE, pct) =>
      val n = evalInt(nE, params)
      val off = sel.offset.map(evalInt(_, params))
      if (!pct) {
        sEnv = sEnv.copy(df = off match {
          case Some(o) => sEnv.df.offset(o).limit(n)
          case None => sEnv.df.limit(n)
        })
      } else {
        // LIMIT n PERCENT stays lazy: a distributed row number filtered
        // against the broadcast total — no eager count() job at compile
        // time (the count runs inside the query's own job)
        val rnCol = "__limit_rn"
        val rn = graft.operators.RowNumber.withRowNumber(sEnv.df, rnCol)
        val cnt = sEnv.df.agg(count(lit(1)).cast("double").as("__limit_total"))
        val lo = lit(off.getOrElse(0).toLong)
        val k = floor(col("__limit_total") * n / 100.0).cast("long")
        sEnv = sEnv.copy(df = rn.crossJoin(broadcast(cnt))
          .filter(col(rnCol) >= lo && col(rnCol) < lo + k)
          .drop(rnCol, "__limit_total"))
      }
    }

    // final projection (the internal row-number column never leaks into *)
    val srcCols = env.df.columns.toSeq
      .filterNot(c => c == RowNumCol || c == Bm25ScoreCol)
    val outCols =
      (if (hasStar) srcCols.map(c => col(c)) else Nil) ++
        finals.map { case (tmp, name, _) => col(tmp).as(name) }
    sEnv.df.select(outCols: _*)
  }

  /** Detect the indexed-top-k shape: single-statement, no joins /
    * grouping / sampling, primary ORDER key `COSINE_SIMILARITY(col,
    * const-vector)` DESC (directly or via a SELECT alias), plain LIMIT k.
    * A WHERE clause is allowed (it becomes the search's id pre-filter)
    * unless it uses ROW_NUMBER (stamped after routing) or RANDOM
    * (recomputing it for the filter frame would see different draws).
    * Returns (vector column, query vector, k). */
  private def annTopKRoute(sel: ast.Select,
      params: Seq[Any]): Option[(String, Seq[Double], Int, String)] = {
    if (sel.joins.nonEmpty || sel.groupBy.nonEmpty ||
        sel.ungroup.nonEmpty || sel.sampleBy.nonEmpty || sel.expand.nonEmpty ||
        sel.offset.nonEmpty || sel.orderBy.isEmpty)
      return None
    if (sel.where.exists(w => usesFn(w, "ROW_NUMBER") || usesFn(w, "RANDOM")))
      return None
    val k = sel.limit match {
      case Some((e, false)) => evalInt(e, params)
      case _ => return None
    }
    val ordExpr = sel.orderBy.head.e match {
      // ORDER BY score where SELECT ... AS score
      case ast.Ref(Seq(n)) =>
        sel.projs.collectFirst {
          case ast.Proj(pe, Some(a)) if a.equalsIgnoreCase(n) => pe
        }.getOrElse(sel.orderBy.head.e)
      case other => other
    }
    // ROUND(sim, d) orders like sim up to d-decimal ties — candidates are
    // identical, so the route applies through the wrapper
    val unwrapped = ordExpr match {
      case ast.Fn("ROUND", Seq(inner, _), Seq()) => inner
      case other => other
    }
    // cosine serves the DESCENDING top-k; L2 distance the ASCENDING one
    // (reference order_type::ascending — top_k_search_info.hpp:35)
    val asc = sel.orderBy.head.asc
    unwrapped match {
      case ast.Fn("COSINE_SIMILARITY", Seq(ast.Ref(Seq(c)), v), Seq()) if !asc =>
        constVector(v, params).map(vec => (c, vec, k, "cosine"))
      case ast.Fn("L2_NORM", Seq(ast.Bin("-", ast.Ref(Seq(c)), v)), Seq()) if asc =>
        constVector(v, params).map(vec => (c, vec, k, "l2"))
      // MIPS: ORDER BY DOT(col, const) DESC — probes clusters by
      // q·centroid (faiss IVF inner-product posture), exact-scores
      // probed candidates
      case ast.Fn("DOT", Seq(ast.Ref(Seq(c)), v), Seq()) if !asc =>
        constVector(v, params).map(vec => (c, vec, k, "dot"))
      case _ => None
    }
  }

  /** Detect the MAXSIM indexed-top-k shape — the multi-vector sibling of
    * [[annTopKRoute]]: primary ORDER key `MAXSIM(col, const-bag)` DESC
    * (directly, via an alias, or through ROUND), plain LIMIT k, same
    * structural guards. Returns (bag column, query bag, k). */
  private def maxsimRoute(sel: ast.Select,
      params: Seq[Any]): Option[(String, Seq[Seq[Double]], Int)] = {
    if (sel.joins.nonEmpty || sel.groupBy.nonEmpty ||
        sel.ungroup.nonEmpty || sel.sampleBy.nonEmpty || sel.expand.nonEmpty ||
        sel.offset.nonEmpty || sel.orderBy.isEmpty)
      return None
    if (sel.where.exists(w => usesFn(w, "ROW_NUMBER") || usesFn(w, "RANDOM")))
      return None
    val k = sel.limit match {
      case Some((e, false)) => evalInt(e, params)
      case _ => return None
    }
    val ordExpr = sel.orderBy.head.e match {
      case ast.Ref(Seq(n)) =>
        sel.projs.collectFirst {
          case ast.Proj(pe, Some(a)) if a.equalsIgnoreCase(n) => pe
        }.getOrElse(sel.orderBy.head.e)
      case other => other
    }
    val unwrapped = ordExpr match {
      case ast.Fn("ROUND", Seq(inner, _), Seq()) => inner
      case other => other
    }
    if (sel.orderBy.head.asc) return None
    unwrapped match {
      case ast.Fn("MAXSIM", Seq(ast.Ref(Seq(c)), v), Seq()) =>
        constBag(v, params).map(bag => (c, bag, k))
      case _ => None
    }
  }

  /** a constant query BAG: ARRAY[ARRAY[...], ...] of constant vectors,
    * or a `?` bound to a Seq of Seqs of numbers */
  private def constBag(e: ast.Expr, params: Seq[Any]): Option[Seq[Seq[Double]]] = e match {
    case ast.ArrayLit(items) if items.nonEmpty =>
      val rows = items.map(constVector(_, params))
      if (rows.forall(_.isDefined)) Some(rows.map(_.get)) else None
    case ast.Param(i) if i < params.size => params(i) match {
      case s: Seq[_] if s.nonEmpty && s.forall(_.isInstanceOf[Seq[_]]) =>
        val rows = s.map(_.asInstanceOf[Seq[_]])
        if (rows.forall(_.forall(_.isInstanceOf[Number])))
          Some(rows.map(_.map(_.asInstanceOf[Number].doubleValue)))
        else None
      case _ => None
    }
    case _ => None
  }

  /** a constant query vector: ARRAY[...] of numeric literals/params, or a
    * whole-vector `?` binding */
  private def constVector(e: ast.Expr, params: Seq[Any]): Option[Seq[Double]] = e match {
    case ast.ArrayLit(items) =>
      def num(e: ast.Expr): Option[Double] = e match {
        case ast.Lit(x: Long) => Some(x.toDouble)
        case ast.Lit(x: Double) => Some(x)
        case ast.Un("-", inner) => num(inner).map(-_)
        case ast.Param(i) if i < params.size => params(i) match {
          case n: Number => Some(n.doubleValue)
          case _ => None
        }
        case _ => None
      }
      val vals = items.map(num)
      if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
    case ast.Param(i) if i < params.size => params(i) match {
      case s: Seq[_] if s.forall(_.isInstanceOf[Number]) =>
        Some(s.map(_.asInstanceOf[Number].doubleValue))
      case _ => None
    }
    case _ => None
  }

  private def evalInt(e: ast.Expr, params: Seq[Any]): Int = e match {
    case ast.Lit(v: Long) => v.toInt
    case ast.Param(i) =>
      require(i < params.size, s"missing value for parameter ?$i")
      params(i) match {
        case n: Number => n.intValue
        case x => throw new IllegalArgumentException(s"LIMIT/OFFSET param must be int, got $x")
      }
    case x => throw new IllegalArgumentException(s"LIMIT/OFFSET must be literal or ?, got $x")
  }

  /** Rewrite select-alias references to their staged temp columns. */
  private def substAliases(e: ast.Expr, finals: Seq[(String, String, ast.Expr)]): ast.Expr = {
    val byName = finals.map { case (tmp, name, _) => name -> tmp }.toMap
    def go(x: ast.Expr): ast.Expr = x match {
      case ast.Ref(Seq(n)) if byName.contains(n) => ast.Ref(Seq(byName(n)))
      case ast.Fn(n, args, pairs) =>
        ast.Fn(n, args.map(go), pairs.map { case (a, b) => (go(a), go(b)) })
      case ast.Un(op, a) => ast.Un(op, go(a))
      case ast.Bin(op, a, b) => ast.Bin(op, go(a), go(b))
      case ast.Between(a, lo, hi, neg) => ast.Between(go(a), go(lo), go(hi), neg)
      case ast.In(a, items, neg) => ast.In(go(a), items.map(go), neg)
      case ast.ArrayLit(items) => ast.ArrayLit(items.map(go))
      case ast.Index(a, i) => ast.Index(go(a), go(i))
      case ast.Slice(a, lo, hi, st) => ast.Slice(go(a), lo.map(go), hi.map(go), st.map(go))
      case other => other
    }
    go(e)
  }

  /** internal column carrying the distributed ROW_NUMBER() value */
  private val RowNumCol = "__rownum"

  /** does `e` contain a call to function `name` anywhere? */
  /** The unique (text column, query text) a select's BM25_SIMILARITY
    * calls agree on — None when absent, ambiguous, or the select shape
    * can't route (joins/grouping/expand/sampling). */
  private def bm25Route(sel: ast.Select): Option[(String, String)] = {
    if (sel.joins.nonEmpty || sel.groupBy.nonEmpty || sel.ungroup.nonEmpty ||
        sel.sampleBy.nonEmpty || sel.expand.nonEmpty)
      return None
    def collect(e: ast.Expr): Seq[(String, String)] = e match {
      case ast.Fn("BM25_SIMILARITY", Seq(ast.Ref(Seq(c)), ast.Lit(q: String)), Seq()) =>
        Seq((c, q))
      case ast.Fn(_, args, pairs) =>
        args.flatMap(collect) ++ pairs.flatMap { case (a, b) => collect(a) ++ collect(b) }
      case ast.Un(_, a) => collect(a)
      case ast.Bin(_, a, b) => collect(a) ++ collect(b)
      case ast.Between(a, lo, hi, _) => Seq(a, lo, hi).flatMap(collect)
      case ast.In(a, items, _) => (a +: items).flatMap(collect)
      case ast.ArrayLit(items) => items.flatMap(collect)
      case ast.Index(a, i) => collect(a) ++ collect(i)
      case ast.Slice(a, lo, hi, st) =>
        (a +: (lo.toSeq ++ hi.toSeq ++ st.toSeq)).flatMap(collect)
      case _ => Nil
    }
    val uses = (sel.projs.map(_.e) ++ sel.orderBy.map(_.e)).flatMap(collect).distinct
    uses match {
      case Seq(one) => Some(one)
      case _ => None
    }
  }

  private def usesFn(e: ast.Expr, name: String): Boolean = e match {
    case ast.Fn(n, args, pairs) =>
      n == name || args.exists(usesFn(_, name)) ||
        pairs.exists { case (a, b) => usesFn(a, name) || usesFn(b, name) }
    case ast.Un(_, a) => usesFn(a, name)
    case ast.Bin(_, a, b) => usesFn(a, name) || usesFn(b, name)
    case ast.Between(a, lo, hi, _) => Seq(a, lo, hi).exists(usesFn(_, name))
    case ast.In(a, items, _) => (a +: items).exists(usesFn(_, name))
    case ast.ArrayLit(items) => items.exists(usesFn(_, name))
    case ast.Index(a, i) => usesFn(a, name) || usesFn(i, name)
    case ast.Slice(a, lo, hi, st) =>
      (a +: (lo.toSeq ++ hi.toSeq ++ st.toSeq)).exists(usesFn(_, name))
    case _ => false
  }

  private def refs(e: ast.Expr): Seq[String] = e match {
    case ast.Ref(parts) => Seq(parts.last)
    case ast.Fn(_, args, pairs) =>
      args.flatMap(refs) ++ pairs.flatMap { case (a, b) => refs(a) ++ refs(b) }
    case ast.Un(_, a) => refs(a)
    case ast.Bin(_, a, b) => refs(a) ++ refs(b)
    case ast.Between(a, lo, hi, _) => refs(a) ++ refs(lo) ++ refs(hi)
    case ast.In(a, items, _) => refs(a) ++ items.flatMap(refs)
    case ast.ArrayLit(items) => items.flatMap(refs)
    case ast.Index(a, i) => refs(a) ++ refs(i)
    case ast.Slice(a, lo, hi, st) =>
      refs(a) ++ (lo.toSeq ++ hi.toSeq ++ st.toSeq).flatMap(refs)
    case _ => Nil
  }

  private def source(spark: SparkSession, s: ast.Source,
      resolve: (String, Option[String]) => DataFrame, params: Seq[Any]): (DataFrame, Map[String, DataFrame], String) =
    s match {
      case ast.TableRef(name, alias) =>
        val df = resolve(name, alias)
        val aliases = (alias.toSeq :+ name).map(_ -> df).toMap
        (df, aliases, df.columns.head)
      case ast.SubQuery(q, alias) =>
        val branches = q.selects.map(sel => compileSelect(spark, sel, resolve, params))
        val df = q.ops.zip(branches.tail).foldLeft(branches.head) {
          case (acc, ("UNION", b)) => acc.unionByName(b)
          case (acc, ("INTERSECT", b)) => acc.intersect(b)
          case (acc, ("EXCEPT", b)) => acc.except(b)
          case (_, (op, _)) => throw new IllegalArgumentException(s"bad set op $op")
        }
        (df, alias.map(_ -> df).toMap, df.columns.head)
    }

  // ------------------------------------------------------------ expressions

  private def dtype(env: Env, c: Column): DataType =
    env.df.select(c).schema.head.dataType

  private def isArray(env: Env, c: Column): Boolean =
    dtype(env, c).isInstanceOf[ArrayType]

  private def expr(env: Env, e: ast.Expr, params: Seq[Any]): Column = e match {
    case ast.Lit(null) => lit(null)
    case ast.Lit(v) => lit(v)
    case ast.Star => col("*")
    case ast.Param(i) =>
      require(i < params.size, s"missing value for parameter ?$i")
      params(i) match {
        // vector params bind as array literals, usable anywhere an
        // expression is (reference param_expr binds array params —
        // `cpp/query_core/expr.hpp:107-126`), e.g. a projection
        // `COSINE_SIMILARITY(emb, ?)`
        case s: Seq[_] => array(s.map(x => lit(x)): _*)
        case a: Array[_] if !a.isInstanceOf[Array[Byte]] =>
          array(a.toSeq.map(x => lit(x)): _*)
        case v => lit(v)
      }
    case ast.Ref(Seq(name)) => col(name)
    case ast.Ref(Seq(alias, name)) =>
      env.aliases.get(alias).map(_(name)).getOrElse(col(s"$alias.$name"))
    case ast.Ref(parts) => col(parts.mkString("."))
    case ast.ArrayLit(items) => array(items.map(expr(env, _, params)): _*)

    case ast.Un("-", a) => -expr(env, a, params)
    case ast.Un("NOT", a) => !expr(env, a, params)
    case ast.Un("ISNULL", a) => expr(env, a, params).isNull
    case ast.Un("ISNOTNULL", a) => expr(env, a, params).isNotNull
    case ast.Un(op, _) => throw new IllegalArgumentException(s"bad unary op $op")

    case ast.Bin(op, l, r) => binary(env, op, l, r, params)

    case ast.Between(a, lo, hi, neg) =>
      val c = expr(env, a, params).between(expr(env, lo, params), expr(env, hi, params))
      if (neg) !c else c
    case ast.In(a, items, neg) =>
      val c = expr(env, a, params).isin(items.map {
        case ast.Lit(v) => v
        case x => throw new IllegalArgumentException(s"IN items must be literals, got $x")
      }: _*)
      if (neg) !c else c

    case ast.Index(a, i) => index(env, a, i, params)
    case ast.Slice(a, lo, hi, st) => sliceCol(env, a, lo, hi, st, params)
    case ast.Fn(name, args, pairs) => fn(env, name, args, pairs, params)
  }

  private def binary(env: Env, op: String, l: ast.Expr, r: ast.Expr,
      params: Seq[Any]): Column = {
    val (lc, rc) = (expr(env, l, params), expr(env, r, params))
    op match {
      case "AND" | "OR" =>
        val (la, ra) = (isArray(env, lc), isArray(env, rc))
        if (la && ra)
          if (op == "AND") gf.logical_and(lc, rc) else gf.logical_or(lc, rc)
        else if (op == "AND") lc && rc else lc || rc
      case "LIKE" => lc.like(glob(r, params))
      case "ILIKE" => lc.ilike(glob(r, params))
      case _ =>
        val f: (Column, Column) => Column = op match {
          case "+" => _ + _
          case "-" => _ - _
          case "*" => _ * _
          case "/" => _ / _
          case "%" => _ % _
          case "=" => _ === _
          case "!=" => _ =!= _
          case "<" => _ < _
          case "<=" => _ <= _
          case ">" => _ > _
          case ">=" => _ >= _
          case o => throw new IllegalArgumentException(s"bad binary op $o")
        }
        // elementwise lift over array operands (cpp/nd/arithmetic.hpp,
        // comparison.hpp: scalars broadcast over tensors)
        (isArray(env, lc), isArray(env, rc)) match {
          case (true, true) => zip_with(lc, rc, (x, y) => f(x, y))
          case (true, false) => transform(lc, x => f(x, rc))
          case (false, true) => transform(rc, y => f(lc, y))
          case (false, false) => f(lc, rc)
        }
    }
  }

  /** TQL glob pattern → SQL LIKE pattern (`tql.md:212-228`). */
  private def glob(p: ast.Expr, params: Seq[Any]): String = p match {
    case ast.Lit(s: String) =>
      s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        .replace('*', '%').replace('?', '_')
    case x => throw new IllegalArgumentException(s"LIKE pattern must be a string literal, got $x")
  }

  /** 0-based index with Python negatives; string key = JSON/struct access. */
  private def index(env: Env, a: ast.Expr, i: ast.Expr, params: Seq[Any]): Column = {
    val base = expr(env, a, params)
    i match {
      case ast.Lit(key: String) =>
        dtype(env, base) match {
          case _: StructType => base.getField(key)
          case _: MapType => base.getItem(key)
          case _ => get_json_object(base, s"$$.$key") // JSON string column
        }
      case _ =>
        val idx = expr(env, i, params).cast("int")
        // element_at is 1-based and supports -1 = last, matching Python
        element_at(base, when(idx >= 0, idx + 1).otherwise(idx))
    }
  }

  /** Python slice [lo:hi:step] over an array column (tql.md:587-604). */
  private def sliceCol(env: Env, a: ast.Expr, lo: Option[ast.Expr],
      hi: Option[ast.Expr], st: Option[ast.Expr], params: Seq[Any]): Column = {
    val arr = expr(env, a, params)
    val n = size(arr)
    def norm(e: Option[ast.Expr], dflt: Column): Column = e match {
      case None => dflt
      case Some(x) =>
        val c = expr(env, x, params).cast("int")
        greatest(lit(0), least(n, when(c < 0, c + n).otherwise(c)))
    }
    val loC = norm(lo, lit(0))
    val hiC = norm(hi, n)
    val stC = st.map(expr(env, _, params).cast("int")).getOrElse(lit(1))
    // indices lo, lo+step, ... < hi  (empty slice keeps the element type)
    when(hiC > loC,
      transform(sequence(loC, hiC - 1, stC), i => element_at(arr, i + 1)))
      .otherwise(slice(arr, 1, 0))
  }

  // ---------------------------------------------------------------- functions

  private def fn(env: Env, name: String, argsAst: Seq[ast.Expr],
      pairsAst: Seq[(ast.Expr, ast.Expr)], params: Seq[Any]): Column = {
    def args: Seq[Column] = argsAst.map(expr(env, _, params))
    def a0 = args(0)
    def a1 = args(1)
    def pairs: Seq[(Column, Column)] =
      pairsAst.map { case (c, w) => (expr(env, c, params), expr(env, w, params)) }
    def reduceArray(f: Column => Column): Column = {
      require(isArray(env, a0),
        s"$name is a within-row tensor reduction; argument must be an array column")
      f(a0)
    }
    // routed-score overrides first: the route pre-computed this call's
    // value as a join output column (see bm25Route)
    env.fnOverrides.get(name) match {
      case Some(c) => return c
      case None if name == "BM25_SIMILARITY" =>
        throw new IllegalArgumentException(
          "BM25_SIMILARITY requires a registered BM25 index " +
            "(Bm25.Catalog.register) and a routable select shape " +
            "(no joins/grouping; one distinct (column, query) usage)")
      case None => ()
    }
    name match {
      case "COSINE_SIMILARITY" => gf.cosine_similarity(a0, a1)
      // MATCH_KEYWORDS(text, ARRAY['phrase', ...]): the phrase list must
      // be a CONSTANT array of string literals — the Aho-Corasick
      // automaton builds once at plan time from it (a per-row dictionary
      // would rebuild per row, defeating the kernel)
      case "MATCH_KEYWORDS" =>
        val phrases = argsAst.lift(1) match {
          case Some(ast.ArrayLit(items)) if items.nonEmpty =>
            items.map {
              case ast.Lit(s: String) => s
              case other => throw new IllegalArgumentException(
                s"MATCH_KEYWORDS phrases must be string literals, got $other")
            }
          case _ => throw new IllegalArgumentException(
            "MATCH_KEYWORDS(text, ARRAY['phrase', ...]) needs a constant phrase array")
        }
        gf.match_keywords(a0, phrases)
      case "DOT" => gf.dot(a0, a1)
      case "L1_NORM" =>
        if (args.size == 2) gf.l1_norm(a0, a1)
        else gf.tsum(transform(a0, x => abs(x)))
      case "L2_NORM" => if (args.size == 2) gf.l2_norm(a0, a1) else gf.l2_norm(a0)
      case "LINF_NORM" =>
        if (args.size == 2) gf.linf_norm(a0, a1)
        else gf.tmax(transform(a0, x => abs(x.cast("double"))))
      case "HAMMING_DISTANCE" => gf.hamming_distance(a0, a1)
      case "MAXSIM" => gf.maxsim(a0, a1)
      case "MAXSIM_POOLED" => gf.maxsim_pooled(a0, a1)
      case "MAXSIM_BQ" => gf.maxsim_bq(a0, a1)
      case "QUANTIZE" => gf.quantize(a0)
      case "MEAN_POOL_ROWS" => gf.mean_pool_rows(a0)
      case "SHAPE" => gf.shape(a0)
      // sample_info tensor property (`cpp/tql/tensor_property.hpp:7-12`):
      // binary payloads parse their real container headers (image/WAV/MP4
      // via graft.functions.SampleInfo); array tensors report element
      // dtype + logical shape ("shape" column metadata when declared —
      // Multimodal.withShape — else the flat length)
      case "SAMPLE_INFO" =>
        dtype(env, a0) match {
          case BinaryType =>
            org.apache.spark.sql.graft.Bridge.column(
              graft.functions.SampleInfo(
                org.apache.spark.sql.graft.Bridge.expression(a0)))
          case ArrayType(et, _) =>
            val metaDims = argsAst.head match {
              case ast.Ref(parts) =>
                env.df.schema.fields.find(_.name == parts.last)
                  .filter(_.metadata.contains("shape"))
                  .map(_.metadata.getLongArray("shape").toSeq)
              case _ => None
            }
            val shapeCol = metaDims
              .map(ds => array(ds.map(d => lit(d)): _*))
              .getOrElse(array(size(a0).cast("long")))
            struct(lit(et.simpleString).as("dtype"), shapeCol.as("shape"))
          case other => struct(lit(other.simpleString).as("dtype"),
            array().cast("array<bigint>").as("shape"))
        }
      case "NONZERO" => gf.nonzero(a0)
      case "KEYS" => gf.keys(a0)
      case "FLAT" => gf.flat(a0)
      case "TRANSPOSE" => gf.transpose(a0)
      case "ISCLOSE" =>
        val rtol = if (args.size > 2) args(2) else lit(1e-5)
        val atol = if (args.size > 3) args(3) else lit(1e-8)
        zip_with(a0, a1, (x, y) => abs(x - y) <= atol + rtol * abs(y))
      case "ANY" => gf.any_(a0)
      case "ALL" => gf.all_(a0)
      case "ALL_STRICT" => gf.all_strict(a0)
      case "LOGICAL_AND" => gf.logical_and(a0, a1)
      case "LOGICAL_OR" => gf.logical_or(a0, a1)
      case "SUM" => reduceArray(gf.tsum)
      case "AVG" | "MEAN" => reduceArray(gf.tavg)
      case "PROD" => reduceArray(gf.tprod)
      // fold in double so results are precision-stable across engines
      // (f32 storage, f64 arithmetic — SURVEY §1.2 deviation note)
      case "AMIN" | "MIN" => reduceArray(a => gf.tmin(a).cast("double"))
      case "AMAX" | "MAX" => reduceArray(a => gf.tmax(a).cast("double"))
      case "STDEV" => reduceArray { arr =>
        val xs = transform(arr, _.cast("double"))
        val n = size(arr).cast("double")
        val mean = gf.tsum(xs) / n
        val sumsq = aggregate(xs, lit(0.0d), (acc, x) => acc + x * x)
        sqrt((sumsq - n * mean * mean) / (n - lit(1.0d)))
      }
      case "MEDIAN" => reduceArray { arr =>
        val sorted = array_sort(transform(arr, _.cast("double")))
        val n = size(arr)
        val loEl = element_at(sorted, ((n + 1) / 2).cast("int"))
        val hiEl = element_at(sorted, (n / 2 + 1).cast("int"))
        (loEl + hiEl) / 2.0d
      }
      case "BINCOUNT" =>
        val nbins = argsAst(1) match {
          case ast.Lit(v: Long) => v.toInt
          case x => throw new IllegalArgumentException(s"BINCOUNT(a, nbins) needs int literal, got $x")
        }
        gf.bincount(a0, nbins)
      case "ROUND" =>
        // fold in double: Spark's round(float) stays float, which is not
        // precision-stable against engines that round in f64
        val scale = if (args.size > 1) argsAst(1) match {
          case ast.Lit(v: Long) => v.toInt
          case _ => 0
        } else 0
        round(a0.cast("double"), scale)
      case "SQRT" => if (isArray(env, a0)) transform(a0, x => sqrt(x)) else sqrt(a0)
      case "ABS" => if (isArray(env, a0)) transform(a0, x => abs(x)) else abs(a0)
      case "RANDOM" => (rand(defaultSeed) * Int.MaxValue).cast("int")
      case "ROW_NUMBER" =>
        // stamped by the compileSelect pre-pass (distributed plan)
        col(RowNumCol)
      case "DATA" =>
        // DATA(col, i): the value of `col` at 0-based row i of the current
        // frame, bound as a constant (tql.md:414-417 — the reference
        // materializes the sample and binds it into the expression). A
        // limit-(i+1) single-row lookup, not a scan.
        val i = argsAst(1) match {
          case ast.Lit(v: Long) => v.toInt
          case x => throw new IllegalArgumentException(s"DATA(col, i) needs int literal, got $x")
        }
        val rows = env.df.select(expr(env, argsAst(0), params).as("__data"))
          .limit(i + 1).collect()
        require(rows.length == i + 1, s"DATA row index $i out of range (${rows.length} rows)")
        // numeric constants bind in double (f32 storage, f64 arithmetic —
        // the repo-wide precision-stability policy), so downstream
        // elementwise math runs in f64 like every other engine's would
        // NB: Row.get returns mutable.ArraySeq for array columns, which is
        // NOT scala.Seq (immutable) under 2.13 — match collection.Seq
        rows.last.get(0) match {
          case s: scala.collection.Seq[_] => array(s.toSeq.map {
            case f: Float => lit(f.toDouble)
            case x => lit(x)
          }: _*)
          case f: Float => lit(f.toDouble)
          case v => lit(v)
        }
      case "CONTAINS" =>
        array_contains(split(lower(a0), "[^a-z0-9]+"), lower(a1))
      case "EQUALS" => a0 === a1
      case "MAX_WEIGHT" =>
        greatest(pairs.map { case (c, w) => when(c, w.cast("double")).otherwise(lit(0.0)) }: _*)
      case "SUM_WEIGHT" =>
        pairs.map { case (c, w) => when(c, w.cast("double")).otherwise(lit(0.0)) }
          .reduce(_ + _)
      case other =>
        // dataset-provided functions first (functions_registry.hpp:15-33),
        // then any Spark SQL builtin / session-registered function
        currentDataset.get()
          .flatMap(d => DatasetFunctions.lookup(d, other))
          .orElse(GlobalFunctions.lookup(other))
          .map(impl => impl(args))
          .getOrElse(call_function(other.toLowerCase, args: _*))
    }
  }
}
