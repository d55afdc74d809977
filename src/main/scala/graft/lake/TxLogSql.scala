package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Command, DeleteFromTable, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UnresolvedWith, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftnative.{parsePlan, planToDf, toColumn}

/** SQL DML surface over [[TxLog]] tables: `MERGE INTO` / `DELETE FROM` /
  * `UPDATE` statements, parsed by Spark's OWN SQL grammar and dispatched
  * to the commit-log row-level operations — closing the reference's
  * "everything is reachable through SQL" contract
  * (`purchase_orders.py:22-24`) for writes the way [[TxLog.createView]]
  * closes it for reads.
  *
  * Why not a string rewrite: Spark's parser already turns these
  * statements into typed logical plans (`DeleteFromTable`, `UpdateTable`,
  * `MergeIntoTable`) — only their EXECUTION is reserved for DSv2 tables.
  * Pattern-matching the parsed plan gets real grammar (quoting, aliases,
  * arbitrary predicate expressions) for free and fails loudly on shapes
  * the commit log cannot honor, where a regex would mis-parse silently.
  *
  * Usage: [[register]] a table once (name -> log root + layout); the name
  * then works in DML text AND as a `spark.sql` view for reads. Each
  * successful statement commits ONE TxLog version and re-registers the
  * read view at the new snapshot. Catalog-qualified identifiers
  * (`cat.db.t` where `cat` is a [[GraftCatalog]]) need NO registration:
  * DML targets and maintenance identifiers both resolve through the
  * catalog's durable descriptors, and reads go through the catalog
  * itself.
  *
  * Supported shapes (the commit log's row-level semantics):
  *   - `INSERT INTO t SELECT ...` / `INSERT OVERWRITE t SELECT ...`
  *     (append / whole-table replace; positional inserts align the
  *     query's output to the table's column names, SQL-standard)
  *   - `DELETE FROM t WHERE <predicate>`
  *   - `UPDATE t SET c1 = <expr>, ... [WHERE <predicate>]`
  *   - `MERGE INTO t USING <source> ON t.k1 = s.k1 [AND ...]
  *      WHEN MATCHED THEN UPDATE SET *
  *      WHEN NOT MATCHED THEN INSERT *`
  *     (whole-row upsert by equi-key — [[TxLog.merge]]'s contract; clause
  *     conditions, partial-column actions, and NOT MATCHED BY SOURCE are
  *     rejected with an explanatory error)
  */
object TxLogSql {

  /** A registered DML target: where its commit log lives and the write
    * layout every DML rewrite must preserve.
    */
  final case class Registration(root: String, partitionCols: Seq[String],
                                statsCols: Seq[String])

  private val registry =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Registration]

  /** Bind `name` to a TxLog root for this session: DML statements resolve
    * the name through this registry, and a same-named temp view is
    * (re-)created at the latest snapshot so SELECTs see every commit.
    */
  def register(spark: SparkSession, name: String, root: String,
               partitionCols: Seq[String] = Seq.empty,
               statsCols: Seq[String] = Seq.empty): Unit = {
    registry((spark, normalize(name))) =
      Registration(root, partitionCols, statsCols)
    TxLog.createView(spark, name, root)
  }

  /** Execute one DML statement; returns the committed TxLog version (for
    * an UPDATE/DELETE matching nothing: the current version — the log
    * commits no empty rewrite). The target's read view is refreshed to
    * the post-statement snapshot.
    */
  def execute(spark: SparkSession, sqlText: String): Long =
    dispatchDml(spark, parsePlan(spark, sqlText), sqlText, strict = true)
      .getOrElse(fail(sqlText, "not a DML statement this surface " +
        "executes; reads go through the registered view via spark.sql"))

  /** Is this parsed plan one of the DML shapes this surface dispatches? */
  private def isDmlShape(p: LogicalPlan): Boolean = p match {
    case _: DeleteFromTable | _: UpdateTable | _: MergeIntoTable |
         _: InsertIntoStatement => true
    case _ => false
  }

  /** The single DML dispatcher behind both [[execute]] and [[run]]:
    * Some(version) when `plan` is a DML shape against a REGISTERED
    * table; None when it is not a DML shape at all, or — in lenient
    * mode (`strict = false`, the [[run]] path) — when its target is not
    * registered, so the caller can hand the statement to `spark.sql`
    * (ordinary catalog tables accept their own DML there). Strict mode
    * (the [[execute]] path) fails loudly on an unregistered target
    * instead. One dispatcher, one parse, one type list — run() and
    * execute() cannot drift.
    */
  private def dispatchDml(spark: SparkSession, plan: LogicalPlan,
                          sqlText: String, strict: Boolean): Option[Long] = {
    // Spark's grammar allows a CTE prefix on every DML shape, parsed as
    // UnresolvedWith(dml, ctes) — NOT the bare DML type. Without this
    // guard such a statement would fall through to spark.sql and, worst
    // case, write AROUND the commit log via the raw snapshot view.
    plan match {
      case w: UnresolvedWith if isDmlShape(w.child) =>
        fail(sqlText, "CTE-prefixed DML is not supported on this " +
          "surface; inline the subquery (e.g. MERGE ... USING (SELECT " +
          "...) s) or create a temp view for the source")
      case _ => ()
    }
    def resolve(table: LogicalPlan): Option[(String, Registration)] =
      targetOpt(spark, table) match {
        case some @ Some(_) => some
        case None if strict => fail(sqlText,
          s"DML target is not TxLogSql-registered; call TxLogSql.register first")
        case None => None
      }
    plan match {

      case d: DeleteFromTable => resolve(d.table).map { case (name, reg) =>
        val v = TxLog.sqlDelete(spark, reg.root,
          toColumn(unqualify(d.condition)), reg.statsCols)
        refresh(spark, name, reg); v
      }

      case u: UpdateTable => resolve(u.table).map { case (name, reg) =>
        val cond = u.condition.map(c => toColumn(unqualify(c)))
          .getOrElse(lit(true))
        val set = u.assignments.map { a =>
          attrName(a.key, sqlText) -> toColumn(unqualify(a.value))
        }.toMap
        require(set.size == u.assignments.size,
          s"duplicate SET column in: $sqlText")
        val v = TxLog.sqlUpdate(spark, reg.root, cond, set, reg.statsCols)
        refresh(spark, name, reg); v
      }

      case m: MergeIntoTable => resolve(m.targetTable).map { case (name, reg) =>
        // the commit log's merge is a whole-row upsert by key: exactly
        // UPDATE SET * / INSERT * with no clause conditions
        m.matchedActions match {
          case Seq(UpdateStarAction(None)) => ()
          case other => fail(sqlText, s"unsupported WHEN MATCHED $other — " +
            "the commit-log merge is a whole-row upsert: use UPDATE SET *")
        }
        m.notMatchedActions match {
          case Seq(InsertStarAction(None)) => ()
          case other => fail(sqlText, s"unsupported WHEN NOT MATCHED $other — " +
            "use INSERT *")
        }
        if (m.notMatchedBySourceActions.nonEmpty)
          fail(sqlText, "WHEN NOT MATCHED BY SOURCE is not supported")
        val keys = keyCols(m.mergeCondition, sqlText)
        val v = TxLog.merge(spark, planToDf(spark, m.sourceTable), reg.root,
          keys, reg.partitionCols, reg.statsCols)
        refresh(spark, name, reg); v
      }

      case i: InsertIntoStatement => resolve(i.table).map { case (name, reg) =>
        // static PARTITION (p = 'v') entries scope the statement; dynamic
        // (value-less) entries are redundant here — partition values
        // always come from the rows
        val static = i.partitionSpec.collect { case (k, Some(v)) => k -> v }
        val dynamic = i.partitionSpec.collect { case (k, None) => k }.toSeq
        if (dynamic.nonEmpty)
          fail(sqlText, s"dynamic PARTITION column(s) " +
            s"${dynamic.mkString(", ")} are redundant — partition values " +
            "derive from the rows; drop them from the PARTITION clause")
        static.keys.foreach { k =>
          if (!reg.partitionCols.exists(_.equalsIgnoreCase(k)))
            fail(sqlText, s"PARTITION column $k is not a partition column " +
              s"of $name (${reg.partitionCols.mkString(", ")})")
        }
        if (i.userSpecifiedCols.nonEmpty)
          fail(sqlText, "INSERT column lists are not supported; project " +
            "the full row in the SELECT")
        var df = planToDf(spark, i.query)
        // SQL INSERT semantics against the existing table schema:
        // positional inserts align the query's output to the table's
        // column NAMES (a mismatched SELECT alias must not evolve the
        // schema), and both forms apply store-assignment CASTS to the
        // table's types (`SELECT 9` is an INT literal; the table column
        // is BIGINT — every SQL engine coerces here, and without the
        // cast the commit-time type guard would rightly reject it)
        val tableSchema = TxLog.latestVersion(spark, reg.root)
          .map(_ => TxLog.readLatest(spark, reg.root).schema)
        import org.apache.spark.sql.functions.{col, lit}
        // resolve by VERBATIM name: an unaliased SELECT expression yields
        // a column literally named e.g. `(price * 0.9)`, which a bare
        // col() would parse as dotted struct access
        def qcol(c: String) =
          col(s"`${c.replace("`", "``")}`")
        // with static PARTITION constants the SELECT omits those columns:
        // positional alignment runs against the table schema MINUS them,
        // and the constants are appended afterwards (cast to the table's
        // type so `PARTITION (p = '5')` lands on an INT column correctly)
        def isStatic(n: String) = static.keys.exists(_.equalsIgnoreCase(n))
        (tableSchema, i.byName) match {
          case (Some(ts), false) =>
            val tsEff = ts.filterNot(f => isStatic(f.name))
            if (tsEff.length != df.columns.length)
              fail(sqlText, s"INSERT arity ${df.columns.length} != table " +
                s"arity ${tsEff.length}" +
                (if (static.nonEmpty) " (static PARTITION columns excluded)"
                 else ""))
            df = df.select(tsEff.zip(df.columns).map { case (f, c) =>
              qcol(c).cast(f.dataType).as(f.name)
            }.toIndexedSeq: _*)
          case (Some(ts), true) =>
            // case-INsensitive name alignment, the same rule committedDdl
            // applies: a batch column `ID` must land on table column `id`
            // (cast + committed casing), not sneak past the store-
            // assignment cast as a "new" column
            df = df.select(df.schema.map { f =>
              ts.find(_.name.equalsIgnoreCase(f.name)) match {
                case Some(tf) => qcol(f.name).cast(tf.dataType).as(tf.name)
                case None     => qcol(f.name) // new column: schema evolution
              }
            }.toIndexedSeq: _*)
          case (None, _) => () // first insert defines the schema
        }
        // append the static PARTITION constants (the SELECT omits them),
        // with the table's casing and type where the table exists
        static.foreach { case (k, value) =>
          if (df.columns.exists(_.equalsIgnoreCase(k)))
            fail(sqlText, s"the SELECT must omit static PARTITION " +
              s"column $k — its value comes from the PARTITION clause")
          val tf = tableSchema.flatMap(_.find(_.name.equalsIgnoreCase(k)))
          df = df.withColumn(tf.map(_.name).getOrElse(k),
            tf.map(f => lit(value).cast(f.dataType)).getOrElse(lit(value)))
        }
        val v =
          if (i.overwrite && static.nonEmpty) {
            // scoped overwrite: replace ONLY the named partitions
            // atomically (TxLog.replacePartitions — metadata-only scope
            // and removal, Hive/Spark INSERT OVERWRITE PARTITION shape)
            val canon = static.map { case (k, value) =>
              reg.partitionCols.find(_.equalsIgnoreCase(k)).getOrElse(k) ->
                value
            }
            TxLog.replacePartitions(spark, df, reg.root, canon,
              reg.statsCols)
          } else if (i.overwrite)
            TxLog.overwrite(spark, df, reg.root, reg.partitionCols,
              reg.statsCols)
          else TxLog.append(spark, df, reg.root, reg.partitionCols,
            reg.statsCols)
        refresh(spark, name, reg); v
      }

      case _ => None
    }
  }

  // -----------------------------------------------------------------------
  // Maintenance statements
  // -----------------------------------------------------------------------

  // Spark's grammar has no VACUUM/OPTIMIZE/DESCRIBE HISTORY/RESTORE (Delta
  // adds them via its own parser extension); these four fixed shapes are
  // matched here before falling through to the parser. Identifiers may be
  // backquoted; keywords are case-insensitive.
  private val DescribeHistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+(`[^`]+`|[\w.]+)\s*;?\s*""".r
  private val DescribeDetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+(`[^`]+`|[\w.]+)\s*;?\s*""".r
  // log-metadata truncation (TxLog.vacuumLog): matched BEFORE VacuumRe
  private val VacuumLogRe =
    ("""(?is)\s*VACUUM\s+(`[^`]+`|[\w.]+)\s+LOG""" +
      """(?:\s+RETAIN\s+(\d+)\s+CHECKPOINTS?)?(\s+FORCE)?""" +
      """(\s+DRY\s+RUN)?\s*;?\s*""").r
  private val VacuumRe =
    ("""(?is)\s*VACUUM\s+(`[^`]+`|[\w.]+)""" +
      """(?:\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?""" +
      """(\s+DRY\s+RUN)?\s*;?\s*""").r
  // dead-claim quarantine (TxLog.repairLog)
  private val RepairLogRe =
    ("""(?is)\s*REPAIR\s+LOG\s+(`[^`]+`|[\w.]+)""" +
      """(?:\s+OLDER\s+THAN\s+(\d+)\s+SECONDS?)?""" +
      """(\s+DRY\s+RUN)?\s*;?\s*""").r
  private val OptimizeRe =
    ("""(?is)\s*OPTIMIZE\s+(`[^`]+`|[\w.]+)(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""").r
  // the persisted-index lifecycle (graft.operators.AnnIndex/DedupIndex)
  // as SQL statements — the index artifacts live at a PATH (they are
  // multi-table roots, not single registered tables), the corpus is a
  // registered/catalog identifier like every other statement's target
  private val AnnCreateRe =
    ("""(?is)\s*CREATE\s+ANN\s+INDEX\s+AT\s+'([^']+)'\s+ON\s+""" +
      """(`[^`]+`|[\w.]+)(?:\s+USING\s*\(\s*(\w+)\s*,\s*(\w+)\s*\))?""" +
      """(?:\s+CELLS\s+(\d+))?(?:\s+PQ\s+(\d+)\s+(\d+))?\s*;?\s*""").r
  private val AnnRefreshRe =
    ("""(?is)\s*REFRESH\s+ANN\s+INDEX\s+AT\s+'([^']+)'\s+ON\s+""" +
      """(`[^`]+`|[\w.]+)(?:\s+USING\s*\(\s*(\w+)\s*,\s*(\w+)\s*\))?""" +
      """\s*;?\s*""").r
  private val AnnMaintainRe =
    """(?is)\s*MAINTAIN\s+ANN\s+INDEX\s+AT\s+'([^']+)'\s*;?\s*""".r
  private val DedupRefreshRe =
    ("""(?is)\s*REFRESH\s+DEDUP\s+INDEX\s+AT\s+'([^']+)'\s+ON\s+""" +
      """(`[^`]+`|[\w.]+)(?:\s+USING\s*\(\s*(\w+)\s*,\s*(\w+)\s*\))?""" +
      """(?:\s+THRESHOLD\s+([\d.]+))?""" +
      """(?:\s+PAIRS\s+AT\s+'([^']+)')?\s*;?\s*""").r
  private val DedupMaintainRe =
    ("""(?is)\s*MAINTAIN\s+DEDUP\s+INDEX\s+AT\s+'([^']+)'""" +
      """(?:\s+PAIRS\s+AT\s+'([^']+)')?\s*;?\s*""").r
  // the composed self-maintenance pass (TxLog.maintain)
  private val MaintainRe =
    ("""(?is)\s*MAINTAIN\s+(`[^`]+`|[\w.]+)""" +
      """(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?\s*;?\s*""").r
  // one `col = 'value'` (or bare value) conjunct of an OPTIMIZE WHERE
  private val PartEqRe =
    """(?is)\s*(`[^`]+`|\w+)\s*=\s*(?:'([^']*)'|(\S+))\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(`[^`]+`|[\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(`[^`]+`|[\w.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val CloneRe =
    ("""(?is)\s*CLONE\s+(`[^`]+`|[\w.]+)\s+TO\s+'([^']+)'""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?(?:\s+AS\s+(`[^`]+`|[\w.]+))?\s*;?\s*""").r
  private val DescribeScanRe =
    """(?is)\s*DESCRIBE\s+SCAN\s+(.+?)\s*;?\s*""".r
  private val AddConstraintRe =
    ("""(?is)\s*ALTER\s+TABLE\s+(`[^`]+`|[\w.]+)\s+ADD\s+CONSTRAINT\s+""" +
      """(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""").r
  private val DropConstraintRe =
    ("""(?is)\s*ALTER\s+TABLE\s+(`[^`]+`|[\w.]+)\s+DROP\s+CONSTRAINT\s+""" +
      """(\w+)\s*;?\s*""").r
  private val AddColumnsRe =
    ("""(?is)\s*ALTER\s+TABLE\s+(`[^`]+`|[\w.]+)\s+ADD\s+COLUMNS?\s*""" +
      """\(([^;]*)\)\s*;?\s*""").r
  // bare single name or parenthesized list; both Spark spellings
  private val DropColumnsRe =
    ("""(?is)\s*ALTER\s+TABLE\s+(`[^`]+`|[\w.]+)\s+DROP\s+COLUMNS?\s+""" +
      """\(?\s*([^();]+?)\s*\)?\s*;?\s*""").r
  private val RenameColumnRe =
    ("""(?is)\s*ALTER\s+TABLE\s+(`[^`]+`|[\w.]+)\s+RENAME\s+COLUMN\s+""" +
      """(`[^`]+`|\w+)\s+TO\s+(`[^`]+`|\w+)\s*;?\s*""").r
  // both Spark spellings: ALTER COLUMN c TYPE t / c SET DATA TYPE t
  private val AlterColumnTypeRe =
    ("""(?is)\s*ALTER\s+TABLE\s+(`[^`]+`|[\w.]+)\s+ALTER\s+COLUMN\s+""" +
      """(`[^`]+`|\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+""" +
      """(\w+(?:\s*\([^)]*\))?)\s*;?\s*""").r
  private val AnalyzeRe =
    ("""(?is)\s*ANALYZE\s+TABLE\s+(`[^`]+`|[\w.]+)\s+COMPUTE\s+""" +
      """STATISTICS\s+FOR\s+(?:(ALL)\s+COLUMNS|COLUMNS\s+\(?([^();]+?)\)?)\s*;?\s*""").r
  private val AnalyzePlainRe =
    """(?is)\s*ANALYZE\s+TABLE\s+(`[^`]+`|[\w.]+)\s+COMPUTE\s+STATISTICS\s*;?\s*""".r
  private val ShowPartitionsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+(`[^`]+`|[\w.]+)\s*;?\s*""".r
  // Delta-shaped bloom index lifecycle: CREATE builds over the current
  // snapshot, REFRESH indexes only the files added since, DROP removes
  // the sidecar. Single column per statement; OPTIONS allows fpp and
  // numItems (expected keys per file).
  private val BloomIndexRe =
    ("""(?is)\s*(CREATE|REFRESH|DROP)\s+BLOOMFILTER\s+INDEX\s+ON\s+""" +
      """(?:TABLE\s+)?(`[^`]+`|[\w.]+)\s+FOR\s+COLUMNS\s*\(\s*""" +
      """(`[^`]+`|\w+)(?:\s+OPTIONS\s*\(([^)]*)\))?\s*\)\s*;?\s*""").r
  private val ShowConstraintsRe =
    """(?is)\s*SHOW\s+CONSTRAINTS\s+(?:ON\s+)?(`[^`]+`|[\w.]+)\s*;?\s*""".r
  /** What DESCRIBE SCAN accepts as its inner statement: the query-shaped
    * heads only (optionally parenthesized). Anything else is a command.
    */
  private val ReadOnlyHeadRe =
    """(?is)^[\s(]*(SELECT|WITH|TABLE|VALUES)\b""".r

  /** Default `VACUUM` retention when no `RETAIN n VERSIONS` is given:
    * generous on purpose (Delta's default is likewise conservative) — a
    * bare VACUUM should reclaim obviously-dead layouts, not silently
    * forfeit most of the table's time-travel window.
    */
  val DefaultVacuumKeepVersions = 10

  /** The full SQL surface over a registered commit-log table: DML
    * ([[execute]]) plus the maintenance statements every log format
    * grows —
    *
    *   - `DESCRIBE HISTORY t` — the commit log as a DataFrame (version,
    *     operation, timestamp, file counts, operation_metrics — the
    *     per-commit operational counts each op records, e.g.
    *     numDeletedRows / numMatchedFiles / numPackedFiles)
    *   - `DESCRIBE DETAIL t` — table health at a glance (location,
    *     version, live file count/bytes, small-file count, deletion-
    *     vector count and vector-deleted rows, partition columns) from
    *     one listing pass — the input to "should I OPTIMIZE" decisions
    *   - `VACUUM t [RETAIN n VERSIONS | RETAIN n HOURS]` — physically
    *     delete files (and superseded deletion-vector sidecars) only
    *     referenced by versions older than the retention window
    *     ([[TxLog.vacuum]] / [[TxLog.vacuumRetainHours]] — the hours
    *     form keeps every version a TIMESTAMP AS OF inside the window
    *     can resolve to); returns the deleted paths; `DRY RUN` previews
    *   - `OPTIMIZE t [WHERE part = 'x' AND ...]` — bin-pack small files
    *     ([[TxLog.compact]]); the WHERE is a PARTITION scope (matched
    *     against directory names before any listing), the form every
    *     nightly maintenance loop uses — nobody compacts 100 TB whole
    *   - `OPTIMIZE t ZORDER BY (c1, ...)` — multi-column Z-order rewrite
    *     ([[TxLog.clusterZ]]); the target file count is derived from the
    *     table's live bytes at the standard 128 MiB target, so the
    *     statement needs no physical-layout parameter
    *   - `MAINTAIN t [RETAIN n VERSIONS]` — the composed
    *     self-maintenance pass ([[TxLog.maintain]]): OPTIMIZE +
    *     CHECKPOINT + VACUUM + horizon-aware VACUUM LOG in one call,
    *     with the truncation horizon chosen so the retained snapshots
    *     stay readable (a table's first pass defers truncation to the
    *     next pass's checkpoint anchor); returns a one-row report
    *   - `RESTORE [TABLE] t TO VERSION AS OF n` — logical undo
    *     ([[TxLog.rollback]]): a NEW commit restoring version n's state,
    *     every intermediate version still readable
    *   - `RESTORE [TABLE] t TO TIMESTAMP AS OF '<ts>'` — the same undo
    *     resolved by wall clock ([[TxLog.versionAtTimestamp]]: highest
    *     version committed at or before the instant)
    *   - `CLONE t TO '<path>' [VERSION AS OF n] [AS name]` — deep
    *     point-in-time fork ([[TxLog.cloneTable]]); `AS name` registers
    *     the clone on this surface immediately
    *   - `DESCRIBE SCAN <query>` — planned post-pruning scan bytes vs the
    *     session's `spark.graft.scanBudget.bytes` cap, without running
    *     the query (the Athena workgroup cost-preview analog)
    *   - `ALTER TABLE t ADD CONSTRAINT name CHECK (...)` /
    *     `ALTER TABLE t DROP CONSTRAINT name` — persistent data-quality
    *     rules riding the commit log ([[TxLog.addConstraint]]): existing
    *     rows are validated at ALTER time, every later write refuses a
    *     violating batch before its commit
    *   - `SHOW CONSTRAINTS [ON] t` — the table's live constraint set
    *   - time-travel READS in plain SELECT grammar:
    *     `FROM t VERSION AS OF n` / `FROM t TIMESTAMP AS OF '<ts>'` —
    *     the pinned snapshot substitutes for the relation before
    *     analysis, composing with joins/CTEs/aggregates and the live
    *     view in one statement
    *   - `FROM table_changes('t', after[, to])` — the change feed as a
    *     table-valued function (rows tagged `_change_type` /
    *     `_commit_version`), Delta's CDC-read shape over
    *     [[TxLog.readChanges]]. Numeric bounds are commit versions
    *     (`after` exclusive, `to` inclusive); quoted string bounds are
    *     TIMESTAMPS — the lower includes every commit at-or-after the
    *     instant, the upper is at-or-before
    *
    * Every statement returns a DataFrame (maintenance results, or the
    * committed version for DML), so a SQL-only client can drive the whole
    * table lifecycle — the reference's "everything through
    * SQL" contract (`purchase_orders.py:22-24`) extended to operations
    * its Glue/Athena stack got from the platform (table history, MSCK,
    * S3 lifecycle) that this engine must provide itself.
    */
  def run(spark: SparkSession, sqlText: String): DataFrame = {
    import spark.implicits._
    // Guarded-statement resolution as an extractor, so each guarded case
    // resolves its identifier ONCE: `case SomeRe(Registered(name, reg))`
    // binds the guard-time lookup, instead of a `lookupOpt.isDefined`
    // guard plus a second `lookupOpt.get` in the body — which charged
    // catalog-qualified identifiers two descriptor reads (two filesystem
    // round trips) per maintenance statement. Note catalog-qualified
    // lookups of a MISSING table fail loudly inside the lookup (the
    // real-catalog-never-retargets rule), so a statement naming one
    // errors rather than falling through to Spark's grammar.
    object Registered {
      def unapply(ident: String): Option[(String, Registration)] =
        lookupOpt(spark, ident)
    }
    sqlText match {
      // `DESCRIBE SCAN <query>` — cost preview, the user-facing half of
      // the scan budget ([[graft.plans.ScanBudget]], the engine-native
      // analog of an Athena workgroup's per-query bytes cutoff): the
      // planned POST-PRUNING file-scan bytes of the query, the session's
      // configured budget (-1 = uncapped), and whether the query would
      // clear it — without reading a byte of data. Registered commit-log
      // tables resolve as their views like any other statement.
      case DescribeScanRe(query) =>
        // Read-only guard: spark.sql() executes commands EAGERLY, so
        // without this check `DESCRIBE SCAN DROP VIEW t` (or CREATE VIEW /
        // INSERT) would run the mutation for real — bypassing this
        // surface's DML dispatcher and registered-view guard under the
        // banner of a no-read cost preview. Previews preview queries.
        if (!ReadOnlyHeadRe.pattern.matcher(query).find())
          throw new IllegalArgumentException(
            "DESCRIBE SCAN expects a read-only query (SELECT/WITH/TABLE/" +
              s"VALUES), not a command: $query")
        // The head regex alone is bypassable: Spark parses CTE-headed DML
        // (`WITH s AS (...) INSERT INTO t ...`), whose head IS `WITH`.
        // Parse (no execution) and reject any plan carrying a Command
        // node or an InsertIntoStatement (the one DML statement that is
        // not a Command subtype) anywhere in the tree. (No naked `{...}`
        // after the throw above — Scala would attach it to the `new` as
        // an anonymous-class body and the guard would never run.)
        val mutating = parsePlan(spark, query)
          .collectFirst {
            case c: Command             => c.getClass.getSimpleName
            case i: InsertIntoStatement => i.getClass.getSimpleName
          }
        mutating.foreach(n => throw new IllegalArgumentException(
          s"DESCRIBE SCAN expects a read-only query; found $n in: $query"))
        val planned =
          graft.plans.ScanBudget.plannedScanBytes(spark.sql(query))
        val budget = graft.plans.ScanBudget.confBudget(spark)
        Seq((planned, budget.getOrElse(-1L), budget.forall(planned <= _)))
          .toDF("planned_scan_bytes", "budget_bytes", "within_budget")

      case DescribeHistoryRe(ident) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        // the bounded projection: entries parse one at a time, so a big
        // table's history never holds every commit's file lists at once
        TxLog.historySummary(spark, reg.root).map {
          case (v, op, ts, added, removed, metrics) =>
            (v, op, new java.sql.Timestamp(ts), added, removed, metrics)
        }.toDF("version", "operation", "timestamp",
          "num_added_files", "num_removed_files", "operation_metrics")

      case DescribeDetailRe(ident) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        // one log resolution + one listing for every field — including
        // the column mapping (surfaced so an operator reading data
        // files directly knows the on-file names differ from the
        // schema's; a separate resolve could disagree on version)
        val (version, sizes, nDv, dvRows, nWithStats, mapping) =
          TxLog.detail(spark, reg.root)
        val small = sizes.count(_._2 < 64L * 1024 * 1024)
        val (nLog, nCkpt) = TxLog.logCounts(spark, reg.root)
        val colMap = mapping.toSeq.sorted
          .map { case (l, p) => s"$l->$p" }.mkString(",")
        Seq((reg.root, version, sizes.size.toLong, sizes.map(_._2).sum,
          small.toLong, nDv, dvRows, nWithStats,
          reg.partitionCols.mkString(","),
          TxLog.bloomIndexColumns(spark, reg.root).mkString(","),
          nLog, nCkpt, colMap))
          .toDF("location", "version", "num_files", "size_bytes",
            "num_small_files", "num_deletion_vectors",
            "deleted_row_count", "num_files_with_stats",
            "partition_columns", "bloom_index_columns",
            "num_log_entries", "num_checkpoints", "column_mapping")

      // VACUUM t LOG [RETAIN n CHECKPOINTS] [FORCE] [DRY RUN]: truncate
      // commit-log METADATA to its checkpoints (bounded log growth on a
      // long-lived table); data files are never touched, and the call
      // refuses — without FORCE — while data below the horizon is still
      // reclaimable by plain VACUUM (truncation would strand it)
      case VacuumLogRe(ident, keep, force, dry) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        val victims = TxLog.vacuumLog(spark, reg.root,
          keepCheckpoints = Option(keep).map(_.toInt).getOrElse(2),
          dryRun = dry != null, force = force != null)
        victims.toDF(if (dry != null) "would_delete_file" else "deleted_file")

      // REPAIR LOG t [OLDER THAN n SECONDS] [DRY RUN]: quarantine a
      // dead tail claim (writer crashed between claim and write) by
      // renaming it to `.orphan` — unwedges the version number; refuses
      // fresh tails (may be healthy in-flight) and mid-log corruption
      case RepairLogRe(ident, olderThan, dry) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        val victims = TxLog.repairLog(spark, reg.root,
          olderThanMs = Option(olderThan).map(_.toLong * 1000L)
            .getOrElse(60000L),
          dryRun = dry != null)
        victims.toDF(
          if (dry != null) "would_quarantine_entry" else "quarantined_entry")

      case VacuumRe(ident, retain, unit, dry) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        // DRY RUN lists the victims without deleting (Delta's preview);
        // RETAIN n HOURS resolves wall clock -> versions inside TxLog
        // (one log read serves the mapping and the reclamation)
        val victims = (Option(retain), Option(unit).map(_.toUpperCase)) match {
          case (Some(n), Some("HOURS")) =>
            TxLog.vacuumRetainHours(spark, reg.root, n.toLong,
              dryRun = dry != null)
          case (Some(n), _) =>
            TxLog.vacuum(spark, reg.root, n.toInt, dryRun = dry != null)
          case _ =>
            TxLog.vacuum(spark, reg.root, DefaultVacuumKeepVersions,
              dryRun = dry != null)
        }
        victims.toDF(if (dry != null) "would_delete_file" else "deleted_file")

      case OptimizeRe(ident, whereText, zorderCols) =>
        val (name, reg) = lookup(spark, ident, sqlText)
        val partFilter = Option(whereText).map(parsePartitionFilter(_, sqlText))
          .getOrElse(Map.empty[String, String])
        val v = Option(zorderCols) match {
          case None =>
            TxLog.compact(spark, reg.root, partitionFilter = partFilter)
          case Some(colsText) =>
            if (partFilter.nonEmpty)
              fail(sqlText, "OPTIMIZE ... WHERE cannot combine with ZORDER " +
                "BY — the Z-order rewrite is whole-table by construction")
            val cols = colsText.split(",").map(c => stripQuotes(c.trim))
              .filter(_.nonEmpty).toSeq
            if (cols.isEmpty) fail(sqlText, "empty ZORDER BY column list")
            val bytes = TxLog.liveSizes(spark, reg.root).map(_._2).sum
            val nFiles = math.max(1L,
              math.ceil(bytes.toDouble / (128L * 1024 * 1024)).toLong).toInt
            TxLog.clusterZ(spark, reg.root, cols, nFiles)
        }
        refresh(spark, name, reg)
        Seq((v, "optimize")).toDF("version", "operation")

      // Persisted-index lifecycle: the ANN (IVF×PQ) and incremental
      // MinHash dedup indexes as SQL statements — build/refresh against
      // a registered corpus, maintenance by index path. USING names the
      // corpus's (id, vector|text) columns when they differ from the
      // operators' defaults. REFRESH DEDUP returns the batch's verified
      // near-dup pairs (the operator's contract frame); the others
      // return one-row reports. Searches go through the `ann_topk`
      // table-valued function (see the TVF substitution).
      case AnnCreateRe(path, ident, idc, vecc, cells, pqm, pqk) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        val nCells = Option(cells).map(_.toInt).getOrElse {
          val n = TxLog.countRows(spark, reg.root)
          math.min(4096, math.max(16,
            math.ceil(math.sqrt(n / 8.0)).toInt))
        }
        val m = Option(pqm).map(_.toInt).getOrElse(16)
        val k = Option(pqk).map(_.toInt).getOrElse(32)
        val v = graft.operators.AnnIndex.build(spark, reg.root, path,
          nCells, m, k, idCol = Option(idc).getOrElse("vec_id"),
          vecCol = Option(vecc).getOrElse("embedding"))
        Seq((v, nCells, m, k))
          .toDF("corpus_version", "n_cells", "m", "k")

      case AnnRefreshRe(path, ident, idc, vecc) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        val r = graft.operators.AnnIndex.refresh(spark, reg.root, path,
          idCol = Option(idc).getOrElse("vec_id"),
          vecCol = Option(vecc).getOrElse("embedding"))
        Seq((r.added, r.removed, r.total, r.retrained))
          .toDF("added", "removed", "total", "retrained")

      case AnnMaintainRe(path) =>
        graft.operators.AnnIndex.maintain(spark, path)
        Seq(true).toDF("maintained")

      case DedupRefreshRe(path, ident, idc, txtc, thr, pairs) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        graft.operators.DedupIndex.update(spark, reg.root, path,
          threshold = Option(thr).map(_.toDouble).getOrElse(0.5),
          idCol = Option(idc).getOrElse("doc_id"),
          textCol = Option(txtc).getOrElse("text"),
          pairsRoot = Option(pairs))

      case DedupMaintainRe(path, pairs) =>
        graft.operators.DedupIndex.maintain(spark, path, Option(pairs))
        Seq(true).toDF("maintained")

      // MAINTAIN t [RETAIN n VERSIONS]: the one-call maintenance pass a
      // nightly loop schedules per table — bin-pack + checkpoint +
      // reclaim + truncate, without the operator sequencing the four
      // statements (and their horizon arithmetic) by hand.
      // Default RETAIN is DefaultVacuumKeepVersions (10) — the same
      // safety default as bare VACUUM, because SQL MAINTAIN targets USER
      // tables whose history is a recovery asset. This deliberately
      // diverges from TxLog.maintain / AnnIndex.maintain /
      // DedupIndex.maintain's keepVersions=2: those maintain derived
      // index artifacts that are rebuildable from the corpus, where old
      // snapshots are pure storage cost. Pass RETAIN explicitly to
      // override either way.
      case MaintainRe(ident, keep) =>
        val (name, reg) = lookup(spark, ident, sqlText)
        val r = TxLog.maintain(spark, reg.root,
          keepVersions = Option(keep).map(_.toInt)
            .getOrElse(DefaultVacuumKeepVersions))
        refresh(spark, name, reg)
        Seq((r.filesBefore, r.filesAfter, r.dataFilesReclaimed,
          r.logEntriesDeleted, r.logTruncated))
          .toDF("files_before", "files_after", "data_files_reclaimed",
            "log_entries_deleted", "log_truncated")

      case RestoreRe(ident, version) =>
        val (name, reg) = lookup(spark, ident, sqlText)
        val v = TxLog.rollback(spark, reg.root, version.toLong)
        refresh(spark, name, reg)
        Seq((v, "restore")).toDF("version", "operation")

      case CloneRe(ident, path, version, asName) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        val v = TxLog.cloneTable(spark, reg.root, path,
          Option(version).map(_.toLong))
        // `AS name`: the clone enters this surface immediately — DML and
        // maintenance statements work on it like any registered table
        Option(asName).foreach(n => register(spark, stripQuotes(n), path,
          reg.partitionCols, reg.statsCols))
        Seq((v, "clone")).toDF("version", "operation")

      // Delta's constraint DDL shape: the CHECK is validated against ALL
      // existing rows before the commit, then enforced on every later
      // write ([[TxLog.addConstraint]]). Caught here because Spark's own
      // ALTER TABLE grammar has no CONSTRAINT clause — falling through
      // would hit the parser as a syntax error on the managed view.
      case AddConstraintRe(ident, name, check) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        val v = TxLog.addConstraint(spark, reg.root, name, check.trim)
        Seq((v, "addConstraint")).toDF("version", "operation")

      case DropConstraintRe(ident, name) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        val v = TxLog.dropConstraint(spark, reg.root, name)
        Seq((v, "dropConstraint")).toDF("version", "operation")

      // the reference's explicit catalog evolution
      // (staging_to_curated.py:152-168) on the commit log: metadata-only
      // commit, whitelist-clamped types, old partitions stay readable.
      // Guarded: ALTER TABLE ADD COLUMNS is valid Spark SQL for catalog
      // tables, so unregistered targets keep Spark's own behavior.
      case AddColumnsRe(Registered(name, reg), colsText) =>
        val itemRe = """(?s)\s*(`[^`]+`|\w+)\s+(.+)""".r
        val cols = splitTopLevel(colsText).map {
          case itemRe(n, t) => stripQuotes(n) -> t.trim
          case item => fail(sqlText,
            s"cannot parse ADD COLUMNS item '$item' (expected: name TYPE)")
        }
        if (cols.isEmpty) fail(sqlText, "empty ADD COLUMNS list")
        val v = TxLog.addColumns(spark, reg.root, cols)
        refresh(spark, name, reg) // the view must expose the new columns
        Seq((v, "addColumns")).toDF("version", "operation")

      // Metadata-only column drop: the commit's schema omits the column,
      // no file is rewritten, and the name is tombstoned against
      // re-evolution (stale bytes stay in pre-drop files — see
      // TxLog.dropColumns). Guarded like ADD COLUMNS: unregistered
      // targets keep Spark's own ALTER TABLE behavior.
      case DropColumnsRe(Registered(name, reg), colsText) =>
        val cols = colsText.split(",").map(c => stripQuotes(c.trim))
          .filter(_.nonEmpty).toSeq
        if (cols.isEmpty) fail(sqlText, "empty DROP COLUMNS list")
        val v = TxLog.dropColumns(spark, reg.root, cols)
        refresh(spark, name, reg) // the view must stop exposing them
        Seq((v, "drop_column")).toDF("version", "operation")

      // Metadata-only column rename via column mapping (physical names
      // frozen, zero bytes rewritten — TxLog.renameColumn). Guarded:
      // Spark's own grammar accepts this shape for catalog tables.
      case RenameColumnRe(Registered(name, reg), fromQ, toQ) =>
        val v = TxLog.renameColumn(spark, reg.root,
          stripQuotes(fromQ), stripQuotes(toQ))
        refresh(spark, name, reg) // the view must expose the new name
        Seq((v, "rename_column")).toDF("version", "operation")

      // Explicit up-cast (TxLog.alterColumnType): the statement form of
      // the schema.mode=widen append path — metadata-only, up-casts
      // only, strict bloom-index drop. Guarded: Spark's own grammar
      // accepts this shape for v2 catalog tables.
      case AlterColumnTypeRe(Registered(name, reg), colQ, typeDdl) =>
        val v = TxLog.alterColumnType(spark, reg.root,
          stripQuotes(colQ), typeDdl.trim)
        refresh(spark, name, reg) // the view must expose the new type
        Seq((v, "alter_column_type")).toDF("version", "operation")

      // ANALYZE TABLE / SHOW PARTITIONS are VALID Spark SQL for catalog
      // tables, so these two are claimed only for REGISTERED tables
      // (guarded match) — unregistered targets fall through to
      // spark.sql and keep Spark's own semantics. For registered tables
      // the stats land in the commit log as a data-less version and
      // feed readRange/merge pruning (the statsCols retrofit), and the
      // partition listing answers from the log with no filesystem walk.
      case AnalyzeRe(Registered(_, reg), all, colsText) =>
        val cols =
          if (all != null) {
            // FOR ALL COLUMNS: every schema column except partition
            // columns (their values live in directory names, not file
            // data, so a per-file scan has nothing to bound). Non-numeric
            // columns are safe to include — computeStats records bounds
            // only for cleanly castable values and stays conservative
            // (no stats = never pruned) otherwise.
            val (pcols, _) = TxLog.partitionInfo(spark, reg.root)
            val pset = pcols.map(_.toLowerCase).toSet
            TxLog.readLatest(spark, reg.root).schema.fieldNames.toSeq
              .filterNot(c => pset(c.toLowerCase))
          } else colsText.split(",").map(c => stripQuotes(c.trim))
            .filter(_.nonEmpty).toSeq
        if (cols.isEmpty) fail(sqlText, "empty ANALYZE column list")
        val v = TxLog.analyzeStats(spark, reg.root, cols)
        Seq((v, "analyze")).toDF("version", "operation")

      // Valid Spark syntax whose table-level form this engine has no
      // use for (row counts are already metadata-only — DESCRIBE
      // DETAIL): fail with the supported forms instead of falling
      // through to spark.sql, which would die on the temp-view-backed
      // registration with an unrelated catalog error.
      case AnalyzePlainRe(ident @ Registered(_, _)) =>
        fail(sqlText,
          s"ANALYZE on graft table ${stripQuotes(ident)} computes " +
            "column skipping stats: use COMPUTE STATISTICS FOR COLUMNS " +
            "(c1, ...) or FOR ALL COLUMNS")

      case BloomIndexRe(verb, Registered(_, reg), colQ, optsText) =>
        val colName = stripQuotes(colQ)
        val opts = Option(optsText).map(_.split(",").toSeq
            .map(_.trim).filter(_.nonEmpty).map { kv =>
          kv.split("=") match {
            case Array(k, v) => k.trim.toLowerCase -> v.trim
            case _ => fail(sqlText, s"malformed bloom index option: $kv")
          }
        }.toMap).getOrElse(Map.empty[String, String])
        val unknown = opts.keySet -- Set("fpp", "numitems")
        if (unknown.nonEmpty)
          fail(sqlText, s"unknown bloom index option(s): " +
            s"${unknown.mkString(", ")} (supported: fpp, numItems)")
        verb.toUpperCase(java.util.Locale.ROOT) match {
          case "DROP" =>
            // an option on DROP is a likely copy-paste from CREATE with
            // a different intent — refuse rather than silently ignore
            if (opts.nonEmpty)
              fail(sqlText, "DROP BLOOMFILTER INDEX takes no OPTIONS")
            val existed = TxLog.dropBloomIndex(spark, reg.root, colName)
            Seq((colName, "drop_bloom_index", if (existed) 1L else 0L))
              .toDF("column", "operation", "files_indexed")
          case v =>
            val fpp = opts.get("fpp").map(_.toDouble).getOrElse(0.01)
            val keys = opts.get("numitems").map(_.toLong).getOrElse(1000000L)
            val n =
              if (v == "CREATE")
                TxLog.buildBloomIndex(spark, reg.root, colName, keys, fpp)
              else
                TxLog.refreshBloomIndex(spark, reg.root, colName, keys, fpp)
            Seq((colName, s"${v.toLowerCase}_bloom_index", n))
              .toDF("column", "operation", "files_indexed")
        }

      case ShowPartitionsRe(ident @ Registered(_, reg)) =>
        // partitioning is decided by the LOG, not the registration (a
        // register() call may legitimately omit partitionCols); one
        // resolution answers both the check and the listing
        val (pcols, values) = TxLog.partitionInfo(spark, reg.root)
        if (pcols.isEmpty)
          fail(sqlText, s"table ${stripQuotes(ident)} is not partitioned")
        values.toDF("partition")

      case ShowConstraintsRe(ident) =>
        val (_, reg) = lookup(spark, ident, sqlText)
        TxLog.constraintsOf(spark, reg.root).toSeq.sortBy(_._1)
          .toDF("name", "check_expression")

      case RestoreTsRe(ident, ts) =>
        val (name, reg) = lookup(spark, ident, sqlText)
        val target = TxLog.versionAtTimestamp(spark, reg.root,
          parseTimestampMs(ts, sqlText))
        val v = TxLog.rollback(spark, reg.root, target)
        refresh(spark, name, reg)
        Seq((v, "restore")).toDF("version", "operation")

      case other =>
        // ONE parse, one dispatcher shared with execute(): DML against a
        // registered table commits through the log; everything else —
        // reads, session DDL, DML on ordinary catalog tables — passes
        // straight through to spark.sql (registered tables resolve as
        // their views), so `run` is a complete single entry point for a
        // SQL-only client.
        val parsed = parsePlan(spark, other)
        dispatchDml(spark, parsed, other, strict = false) match {
          case Some(v) => Seq((v, "dml")).toDF("version", "operation")
          case None =>
            guardRegisteredViewDdl(spark, other)
            resolveTimeTravel(spark, parsed, other) match {
              case Some(p) => planToDf(spark, p)
              case None    => spark.sql(other)
            }
        }
    }
  }

  /** `FROM t VERSION AS OF n` / `FROM t TIMESTAMP AS OF '<ts>'` on a
    * registered table: Spark's grammar parses the time-travel suffix for
    * ANY relation but executes it only for DSv2 catalog tables — here
    * the pinned snapshot's plan is substituted for the relation BEFORE
    * analysis, so the full read grammar (joins against the live view,
    * CTEs, aggregates, multiple pinned versions in one statement) works
    * over any historical version with no [[TxLog.createView]] staging
    * step. Unregistered relations keep their node and surface Spark's
    * own time-travel error.
    */
  private def resolveTimeTravel(spark: SparkSession, plan: LogicalPlan,
                                sqlText: String): Option[LogicalPlan] = {
    var hit = false
    def substitute(
        tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel): LogicalPlan =
      targetOpt(spark, tt.relation) match {
        case None => tt
        case Some((name, reg)) =>
          val version = (tt.version, tt.timestamp) match {
            case (Some(v), _) =>
              try v.toLong
              catch { case _: NumberFormatException =>
                fail(sqlText, s"VERSION AS OF expects a numeric commit " +
                  s"version, got '$v'") }
            case (None, Some(org.apache.spark.sql.catalyst.expressions
                .Literal(s, _: org.apache.spark.sql.types.StringType))) =>
              TxLog.versionAtTimestamp(spark, reg.root,
                parseTimestampMs(String.valueOf(s), sqlText))
            case _ =>
              fail(sqlText, "TIMESTAMP AS OF supports literal " +
                "timestamps on this surface")
          }
          hit = true
          SubqueryAlias(name,
            TxLog.readAt(spark, reg.root, version).queryExecution.analyzed)
      }
    // `table_changes('t', after_version[, to_version])` — the change
    // feed ([[TxLog.readChanges]]: rows tagged _change_type /
    // _commit_version for every commit AFTER the given version) as a
    // table-valued function, Delta's CDC-read shape. Spark parses any
    // unknown TVF into this node, so the substitution needs no grammar.
    def substituteChanges(
        tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction): LogicalPlan = {
      def lit(e: Expression): org.apache.spark.sql.catalyst.expressions.Literal =
        e match {
          case l: org.apache.spark.sql.catalyst.expressions.Literal => l
          case other => fail(sqlText,
            s"table_changes expects literal arguments, got: ${other.sql}")
        }
      val args = tvf.functionArgs.map(lit)
      val (tblName, after, to) = args match {
        case Seq(t, a)    => (String.valueOf(t.value), a, None)
        case Seq(t, a, b) => (String.valueOf(t.value), a, Some(b))
        case _ => fail(sqlText,
          "table_changes takes (table, after_version[, to_version])")
      }
      val (name, reg) = lookup(spark, tblName, sqlText)
      // Each bound is a commit VERSION (numeric literal) or a TIMESTAMP
      // (string literal — Delta's CDC-read option pair). The literal's
      // TYPE decides: a QUOTED all-digit string is epoch milliseconds,
      // never a version — the same digits-mean-epoch rule as the
      // streaming startingTimestamp option, where everything is a
      // string. The lower bound includes every commit at-or-after the
      // instant (exclusive-from = last commit strictly before it, skew-
      // robust via versionStrictlyBefore); the upper is at-or-before.
      def bound(l: org.apache.spark.sql.catalyst.expressions.Literal,
                lower: Boolean): Long = l.dataType match {
        case _: org.apache.spark.sql.types.StringType =>
          val s = String.valueOf(l.value)
          val ms = TxLog.parseTimestampMs(s).getOrElse(fail(sqlText,
            s"cannot parse table_changes timestamp '$s' (epoch ms, " +
              "'yyyy-MM-dd HH:mm:ss', or ISO-8601 instant)"))
          if (lower) TxLog.versionStrictlyBefore(spark, reg.root, ms)
          else TxLog.versionAtTimestamp(spark, reg.root, ms)
        case _ =>
          try String.valueOf(l.value).toLong
          catch { case _: NumberFormatException => fail(sqlText,
            "table_changes bound must be an integer version or a " +
              s"timestamp string, got: ${l.sql}") }
      }
      hit = true
      SubqueryAlias(name,
        TxLog.readChanges(spark, reg.root, bound(after, lower = true),
          to.map(bound(_, lower = false)))
          .queryExecution.analyzed)
    }
    // `ann_topk('corpus', '<indexRoot>', 'queries_view', k, nProbe,
    // shortlist)` — top-k cosine search against a PERSISTED ANN index
    // ([[graft.operators.AnnIndex.search]]) as a table-valued function:
    // the corpus resolves like any registered/catalog identifier, the
    // index by path, and the query vectors come from a named view/table
    // with (qid, qe, qnorm) columns. Yields (qid, cand_id, rnk, cosine).
    def substituteAnnTopk(
        tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction): LogicalPlan = {
      val args = tvf.functionArgs.map {
        case l: org.apache.spark.sql.catalyst.expressions.Literal => l.value
        case other => fail(sqlText,
          s"ann_topk expects literal arguments, got: ${other.sql}")
      }
      args match {
        case Seq(corpus, idx, qview, k, np, sl) =>
          val (_, reg) = lookup(spark, String.valueOf(corpus), sqlText)
          def int(v: Any, what: String): Int =
            try String.valueOf(v).toInt
            catch { case _: NumberFormatException =>
              fail(sqlText, s"ann_topk $what must be an integer, got $v") }
          hit = true
          SubqueryAlias("ann_topk",
            graft.operators.AnnIndex.search(spark, reg.root,
              String.valueOf(idx), spark.table(String.valueOf(qview)),
              int(k, "k"), int(np, "nProbe"), int(sl, "shortlist"))
              .queryExecution.analyzed)
        case _ => fail(sqlText,
          "ann_topk takes (corpus, 'indexRoot', 'queriesView', k, " +
            "nProbe, shortlist)")
      }
    }
    // manual recursion: UnresolvedWith is a UNARY node — its CTE
    // definitions are NOT children, so a plain transformUp would skip
    // `WITH x AS (SELECT ... FROM t VERSION AS OF n)` entirely
    def tx(p: LogicalPlan): LogicalPlan = p match {
      case w: UnresolvedWith =>
        w.copy(child = tx(w.child),
          cteRelations = w.cteRelations.map { case (n, sa, o) =>
            (n, tx(sa).asInstanceOf[SubqueryAlias], o) })
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
        substitute(tt)
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("table_changes") =>
        substituteChanges(tvf)
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("ann_topk") =>
        substituteAnnTopk(tvf)
      case other => other.mapChildren(tx)
    }
    val out = tx(plan)
    if (hit) Some(out) else None
  }

  /** View DDL naming a registered table: rejected, not passed through. A
    * passed-through `DROP VIEW t` would orphan the registry (reads break
    * until the next DML), and `CREATE OR REPLACE TEMP VIEW t AS ...`
    * would silently SHADOW the commit-log snapshot — `run` would return
    * wrong rows for a table it claims to manage.
    */
  private val ViewDdlRe =
    ("""(?is)\s*(?:DROP\s+VIEW|(?:CREATE\s+(?:OR\s+REPLACE\s+)?|ALTER\s+)""" +
      """(?:GLOBAL\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW)\s+""" +
      """(?:IF\s+(?:NOT\s+)?EXISTS\s+)?""" +
      """(`[^`]+`|[\w.]+)\b.*""").r

  private def guardRegisteredViewDdl(spark: SparkSession,
                                     sqlText: String): Unit = sqlText match {
    case ViewDdlRe(ident) =>
      val name = normalize(stripQuotes(ident).split('.').last)
      if (registry.contains((spark, name)))
        fail(sqlText, s"'$name' is a TxLogSql-registered table; dropping " +
          "or replacing its read view would orphan or shadow the commit " +
          "log. Unregister it first if that is really intended")
    case _ => ()
  }

  /** Remove `name` from this session's registry (the read view is left
    * in place; drop it separately if desired).
    */
  def unregister(spark: SparkSession, name: String): Unit = {
    registry.remove((spark, normalize(name))); ()
  }

  // -----------------------------------------------------------------------

  private def normalize(name: String): String = name.toLowerCase

  /** `TIMESTAMP AS OF` literal: epoch milliseconds, or a UTC
    * `yyyy-MM-dd HH:mm:ss[.SSS]` / ISO-8601 instant — the session runs
    * pinned to UTC (build.sbt), so the wall-clock form has exactly one
    * meaning.
    */
  private def parseTimestampMs(ts: String, sqlText: String): Long =
    TxLog.parseTimestampMs(ts).getOrElse(fail(sqlText,
      s"cannot parse TIMESTAMP AS OF '$ts' (epoch ms, " +
        "'yyyy-MM-dd HH:mm:ss', or ISO-8601 instant)"))

  /** OPTIMIZE's WHERE is a PARTITION filter, not a row predicate:
    * conjunctions of `col = 'value'` equalities on partition columns,
    * matched against directory names — anything else fails loudly
    * (row-level predicates cannot scope a file-granular pack).
    */
  private def parsePartitionFilter(whereText: String,
                                   sqlText: String): Map[String, String] =
    whereText.split("(?i)\\s+AND\\s+").map {
      case PartEqRe(k, quoted, bare) =>
        stripQuotes(k) -> Option(quoted).getOrElse(bare)
      case other => fail(sqlText,
        s"OPTIMIZE WHERE supports only partition equalities " +
          s"(col = 'value' AND ...); got: $other")
    }.toMap

  /** Split a column-definition list on commas OUTSIDE any paren/angle
    * nesting, so `decimal(30,6)` and `map<string,int>` survive intact.
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case c =>
        if (c == '(' || c == '<') depth += 1
        else if (c == ')' || c == '>') depth -= 1
        sb += c
    }
    if (sb.nonEmpty) out += sb.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def stripQuotes(ident: String): String =
    if (ident.length >= 2 && ident.head == '`' && ident.last == '`')
      ident.substring(1, ident.length - 1)
    else ident

  /** [[lookup]] without the failure: for statements that are also valid
    * Spark SQL and must pass through when the target is not registered.
    */
  /** Catalog-plugin resolution shared by DML targets and maintenance
    * identifiers: `cat.db.t` whose `cat` is a registered [[GraftCatalog]]
    * resolves through the catalog's durable descriptors — DESCRIBE
    * HISTORY/DETAIL, VACUUM, OPTIMIZE, UPDATE, MERGE all address catalog
    * tables with no register() call.
    */
  private def catalogReg(spark: SparkSession,
                         parts: Seq[String]): Option[(String, Registration)] =
    if (parts.length != 3) None
    else org.apache.spark.sql.graftnative
      .catalogPlugin(spark, parts.head) match {
      case Some(gc: GraftCatalog) =>
        gc.dmlRegistration(org.apache.spark.sql.connector.catalog.Identifier
            .of(Array(parts(1)), parts(2))) match {
          case Some(reg) => Some(parts.mkString(".") -> reg)
          case None =>
            // the head names a REAL graft catalog: a missing table must
            // fail HERE — falling back to the bare-name session registry
            // would silently run the statement against a different table
            // than the one the user explicitly addressed
            throw new IllegalArgumentException(
              s"table ${parts.mkString(".")} does not exist in graft " +
                s"catalog '${parts.head}'")
        }
      case _ => None
    }

  private def lookupOpt(spark: SparkSession,
                        ident: String): Option[(String, Registration)] = {
    val parts = stripQuotes(ident).split('.').toSeq
    catalogReg(spark, parts).orElse {
      val name = normalize(parts.last)
      registry.get((spark, name)).map(name -> _)
    }
  }

  /** Registry lookup for a maintenance-statement identifier (possibly
    * backquoted, qualified, or catalog-addressed — the registry is keyed
    * by the bare name, like [[target]] for parsed DML).
    */
  private def lookup(spark: SparkSession, ident: String,
                     sqlText: String): (String, Registration) =
    lookupOpt(spark, ident) match {
      case Some(hit) => hit
      case None => fail(sqlText,
        s"table '$ident' is not TxLogSql-registered; call TxLogSql.register first")
    }

  private def refresh(spark: SparkSession, name: String,
                      reg: Registration): Unit =
    // catalog-qualified targets (cat.db.t) carry no session temp view to
    // refresh — every statement re-resolves through the catalog plugin
    if (!name.contains('.')) TxLog.createView(spark, name, reg.root)

  /** Unwrap the parsed target relation (possibly aliased:
    * `MERGE INTO t AS x`) to its registered name + registration; None
    * when the target is not a plain relation or is not registered (the
    * caller decides whether that is a loud failure or a passthrough).
    * A catalog-QUALIFIED identifier (`cat.db.t`) whose catalog is a
    * [[GraftCatalog]] resolves through the catalog's durable descriptors
    * instead of the session registry — no register() needed.
    */
  @annotation.tailrec
  private def targetOpt(spark: SparkSession,
                        plan: LogicalPlan): Option[(String, Registration)] =
    plan match {
      case a: SubqueryAlias => targetOpt(spark, a.child)
      case r: UnresolvedRelation =>
        catalogReg(spark, r.multipartIdentifier).orElse {
          val name = normalize(r.multipartIdentifier.last)
          registry.get((spark, name)).map(name -> _)
        }
      case _ => None
    }

  /** Strip alias qualifiers from attribute references (`t.c_acctbal` ->
    * `c_acctbal`): DML predicates evaluate against the snapshot frame,
    * which carries the table's columns but not the statement's alias.
    */
  private def unqualify(e: Expression): Expression = e.transform {
    case a: UnresolvedAttribute if a.nameParts.size > 1 =>
      UnresolvedAttribute(Seq(a.nameParts.last))
  }

  private def attrName(e: Expression, sqlText: String): String = e match {
    case a: UnresolvedAttribute => a.nameParts.last
    case other => fail(sqlText,
      s"SET target must be a column, got ${other.getClass.getSimpleName}")
  }

  /** MERGE key columns from the ON condition: a conjunction of
    * `target.k = source.k` equalities over the SAME column name on both
    * sides — [[TxLog.merge]] joins by key equality, so any other
    * condition shape cannot be honored.
    */
  private def keyCols(cond: Expression, sqlText: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case leaf => Seq(leaf)
    }
    split(cond).map {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
          if l.nameParts.last.equalsIgnoreCase(r.nameParts.last) =>
        l.nameParts.last
      case other => fail(sqlText,
        s"MERGE ON must be a conjunction of t.k = s.k equalities over " +
          s"the same column name; got: ${other.sql}")
    }.distinct
  }

  private def fail(sqlText: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg\n  in statement: $sqlText")
}
