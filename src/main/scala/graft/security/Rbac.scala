package graft.security

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Role-based row/column security producing different results for the
  * same query — the Lake Formation plane of the reference
  * (rbac-demo/README.md:119-149, stack.py:209-320).
  *
  * Enforcement is view-based, which reproduces both observable behaviors
  * exactly at analysis time:
  *  - row security filters silently (core sees only endpoint='api-a');
  *  - column security fails loudly (referencing `items` via the core view
  *    throws AnalysisException, matching "query fails" semantics of
  *    comprehensive_rbac_demo.py:191-200).
  * Catalyst pushes the view's filter into the scan as a data filter. The
  * core role's filter is on the payload column `endpoint`, not on the
  * partition column `source`, so it prunes no partitions: a core request
  * lists and reads every raw page, as a pii request does, and filters
  * rows as it parses them.
  */
object Rbac {
  final case class Role(
      name: String,
      rowFilter: Option[String],
      allowedColumns: Option[Seq[String]],
      maskedColumns: Seq[String] = Nil)

  /** The reference's two demo roles (rbac-demo/README.md:126-149). */
  val core: Role = Role("core", Some("endpoint = 'api-a'"),
    Some(Seq("endpoint", "date", "page", "fetched_at", "source", "ingestion_date")))
  val pii: Role = Role("pii", None, None)

  /** A masking role: sees every row, but sensitive columns are replaced
    * by their digest — the LF "mask" alternative to hard denial (queries
    * referencing the column succeed but see no cleartext). */
  val masked: Role = Role("masked", None, None,
    maskedColumns = Seq("fetched_at"))

  /** LLM-lane roles over the corpus tables — the reference's core
    * contract (identical query, different results by role,
    * comprehensive_rbac_demo.py:109-216) applied to the training-data
    * plane, not just the ingestion `raw` table:
    *  - `doc_meta` may measure the corpus (counts, lengths, sources)
    *    but never read content: `text` is DENIED, so any tokenizing
    *    query fails loudly at analysis, exactly like the reference's
    *    column-security demo;
    *  - `doc_curator` sees all columns but only its licensed sources
    *    (row filter on the partition-friendly `source` column, so the
    *    filter prunes partitions at 100 TB);
    *  - `vec_restricted` sees only embedding labels 0-4 — the row-
    *    security shape for a vector table. */
  val docMeta: Role = Role("doc_meta", None,
    Some(Seq("doc_id", "lang", "source", "n_chars")))
  val docCurator: Role = Role("doc_curator",
    Some("source NOT LIKE 'src1%'"), None)
  val vecRestricted: Role = Role("vec_restricted", Some("label < 5"), None)

  /** Apply a role's grants directly to a DataFrame — the enforcement
    * primitive behind both the view path ([[createRoleViews]]) and the
    * session-role path ([[asRole]]). Filter first (over full columns, so
    * a row filter may reference a column the role cannot read), then
    * project/mask; both are plain Catalyst operators, so the row filter
    * still pushes into the scan and denial costs nothing at scale. */
  def secure(df: DataFrame, role: Role): DataFrame = {
    val filtered = role.rowFilter.fold(df)(df.where)
    val cols = role.allowedColumns.getOrElse(df.columns.toSeq)
    filtered.selectExpr(cols.map {
      case c if role.maskedColumns.contains(c) =>
        s"md5(CAST(`$c` AS STRING)) AS `$c`"
      case c => s"`$c`"
    }: _*)
  }

  /** Compose a role's grants onto a CHANGE-FEED frame
    * ([[graft.lake.ChangeFeed.between]] / the `table_changes` TVF /
    * `graft-changes` streaming batches) — the pinned governance policy
    * for CDC (round-14 verdict item 4). Lake Formation's contract is
    * that the filter applies to EVERY query
    * (rbac-demo/README.md:119-128); extended to the feed that means:
    * the row filter applies to every change row — so the delete
    * PREIMAGE of a row the role could never see never surfaces —
    * masked columns stay masked, and the projection keeps the feed's
    * own metadata columns (`_change_type`, `_commit_version`) so the
    * secured feed is still a feed. The raw feed surfaces (a raw-root
    * `format("graft-changes")` load, `ChangeFeed.between` on a root
    * path) are storage-level APIs, same trust level as reading the
    * parquet directly; the GOVERNED surfaces fail closed instead:
    * under [[runAs]] both `VERSION AS OF` reads of the protected table
    * and the `table_changes` TVF are denied loudly (pinned in
    * `RbacRewriteSpec`), because the role view is defined over the
    * LIVE table and a historical or preimage read does not provably
    * compose with it. */
  def secureFeed(changes: DataFrame, role: Role): DataFrame = {
    import graft.lake.ChangeFeed.{ChangeTypeCol, VersionCol}
    val meta = Seq(ChangeTypeCol, VersionCol).filter(changes.columns.contains)
    val filtered = role.rowFilter.fold(changes)(changes.where)
    // meta columns dedup against BOTH branches: a role whose explicit
    // allowedColumns already grants a feed metadata column must not
    // yield a duplicate (ambiguous) output column (round-15 review)
    val cols = role.allowedColumns
      .getOrElse(changes.columns.toSeq).filterNot(meta.contains) ++ meta
    filtered.selectExpr(cols.map {
      case c if role.maskedColumns.contains(c) =>
        s"md5(CAST(`$c` AS STRING)) AS `$c`"
      case c => s"`$c`"
    }: _*)
  }

  /** Run `body` with each (table → role) grant bound for this session:
    * every [[graft.core.Tables]] load of a bound table inside `body` is
    * secured, so the lane queries themselves run UNCHANGED and return
    * role-dependent results — or fail loudly when they touch a denied
    * column. Bindings are removed on exit even if `body` throws. */
  def asRole[T](spark: SparkSession, grants: (String, Role)*)(body: => T): T = {
    grants.foreach { case (table, role) =>
      graft.core.Tables.bind(spark, table, secure(_, role))
    }
    try body
    finally grants.foreach { case (table, _) =>
      graft.core.Tables.unbind(spark, table)
    }
  }

  def viewName(table: String, role: Role): String =
    s"${table.replace('.', '_')}_${role.name}"

  /** Create one secured view per role over `table`. */
  def createRoleViews(
      spark: SparkSession, table: String, roles: Seq[Role] = Seq(core, pii)): Unit =
    roles.foreach { r =>
      val allCols = r.allowedColumns
        .getOrElse(spark.table(table).columns.toSeq)
      val cols = allCols.map {
        case c if r.maskedColumns.contains(c) => s"md5(CAST(`$c` AS STRING)) AS `$c`"
        case c => s"`$c`"
      }.mkString(", ")
      val where = r.rowFilter.map(f => s" WHERE $f").getOrElse("")
      spark.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW ${viewName(table, r)}
            AS SELECT $cols FROM $table$where""")
    }

  /** Run a query as a role: references to the base table resolve to the
    * role's secured view (the Athena+LF entry point, E1 in SURVEY §3).
    * Unauthorized column references fail during analysis, identical to the
    * reference's failed-query behavior.
    *
    * Substitution happens on the parsed plan's `UnresolvedRelation` nodes
    * (see [[org.apache.spark.sql.graft.SqlRewrite]]) — case-insensitive,
    * qualification-aware, and immune to the table name appearing inside
    * string literals, as a substring of other identifiers, or shadowed by
    * a CTE. */
  def runAs(
      spark: SparkSession, role: Role, table: String, sql: String): DataFrame =
    org.apache.spark.sql.graft.SqlRewrite
      .substituteTable(spark, sql, table, viewName(table, role))

  /** Grant administration: the `grant / revoke / list` surface of the
    * reference's permission setup (rbac-demo/setup_rbac_permissions.sh:
    * 100-147, which grants per-role column lists and row filters through
    * `lakeformation grant-permissions`).
    *
    * Grants live in the protected table's catalog metadata (one table
    * property per role), so they are durable table state — a new session
    * reading the same catalog sees the same grants — rather than static
    * code. `grant` also (re)creates the role's secured view, `revoke`
    * drops it.
    */
  object Grants {
    private val Prefix = "graft.rbac.grant."
    // Field/list separators chosen from the C0 range so any printable SQL
    // fragment (filters contain '=', ';', quotes) round-trips unharmed.
    private val FS = "\u0001"
    private val LS = "\u0002"

    private def encode(r: Role): String = Seq(
      r.allowedColumns.map(_.mkString(LS)).getOrElse("*"),
      r.maskedColumns.mkString(LS),
      r.rowFilter.getOrElse("")).mkString(FS)

    private def decode(name: String, s: String): Role = {
      val parts = s.split(FS, -1)
      Role(
        name,
        rowFilter = Option(parts(2)).filter(_.nonEmpty),
        allowedColumns =
          if (parts(0) == "*") None
          else Some(parts(0).split(LS, -1).toSeq.filter(_.nonEmpty)),
        maskedColumns = parts(1).split(LS, -1).toSeq.filter(_.nonEmpty))
    }

    /** The storage root behind a LAKE-catalog table name, when the name
      * resolves as a lake binding — grants on those tables persist in a
      * `_grants/` registry UNDER THE ROOT (the `_clones/`/`_lanes/`
      * pattern), because the V1 session catalog this object otherwise
      * writes table properties through has no entry for a DSv2 binding
      * (round-18 verdict item 7: a grant on `lake.t` must survive a
      * fresh session the way warehouse-table grants do — the root is
      * the durable thing; the binding is session conf). */
    private def lakeRoot(
        spark: SparkSession, table: String): Option[String] = {
      val parts = table.split('.')
      // ONLY catalog-qualified lake names take the root registry: a
      // bare name with a same-named snapshot binding could ALSO be a
      // session-catalog table, and splitting grant storage from what
      // the secured view actually resolves over would make SHOW
      // GRANTS / revoke read the wrong store
      val isLake = parts.length == 2 &&
        spark.conf.getOption(s"spark.sql.catalog.${parts.head}")
          .contains(classOf[graft.lake.LakeCatalog].getName) &&
        spark.conf.getOption(
          graft.lake.LakeCatalog.BindingPrefix + parts.last).isDefined
      if (!isLake) None
      else scala.util.Try(
        graft.lake.LakeCatalog.resolveBinding(spark, table)._1).toOption
    }

    private def grantsDir(root: String) =
      new org.apache.hadoop.fs.Path(root, "_grants")
    private def fsOf(spark: SparkSession, root: String) =
      new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def grant(spark: SparkSession, table: String, role: Role): Unit = {
      require(role.name.matches("[A-Za-z0-9_]+"),
        s"grant: role name '${role.name}' — use [A-Za-z0-9_]+")
      lakeRoot(spark, table) match {
        case Some(root) =>
          val f = fsOf(spark, root)
          f.mkdirs(grantsDir(root))
          val tmp = new org.apache.hadoop.fs.Path(grantsDir(root),
            s".${role.name}.${java.util.UUID.randomUUID()}.tmp")
          val out = f.create(tmp, true)
          try out.write(encode(role).getBytes("UTF-8")) finally out.close()
          val dst = new org.apache.hadoop.fs.Path(grantsDir(root), role.name)
          f.delete(dst, false)
          if (!f.rename(tmp, dst))
            throw new java.io.IOException(
              s"could not persist grant for role '${role.name}' under $root")
        case None =>
          graft.ingest.Crawler.setTableProps(
            spark, table, Map(Prefix + role.name -> encode(role)))
      }
      createRoleViews(spark, table, Seq(role))
    }

    def revoke(spark: SparkSession, table: String, roleName: String): Unit = {
      // same identifier rule as grant: the name becomes a file name in
      // the lake registry, and an unvalidated "../…" would delete an
      // arbitrary file reachable from the root
      require(roleName.matches("[A-Za-z0-9_]+"),
        s"revoke: role name '$roleName' — use [A-Za-z0-9_]+")
      lakeRoot(spark, table) match {
        case Some(root) =>
          fsOf(spark, root).delete(
            new org.apache.hadoop.fs.Path(grantsDir(root), roleName), false)
        case None =>
          graft.ingest.Crawler.setTableProps(
            spark, table, Map.empty, remove = Seq(Prefix + roleName))
      }
      spark.sql(s"DROP VIEW IF EXISTS ${viewName(table, Role(roleName, None, None))}")
    }

    /** All roles granted on `table`, rebuilt from the durable store —
      * catalog metadata for warehouse tables, the root's `_grants/`
      * registry for lake bindings. */
    def list(spark: SparkSession, table: String): Seq[Role] =
      (lakeRoot(spark, table) match {
        case Some(root) =>
          val f = fsOf(spark, root)
          if (!f.exists(grantsDir(root))) Nil
          else f.listStatus(grantsDir(root)).toSeq
            .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
            .map { st =>
              val in = f.open(st.getPath)
              val s =
                try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
              decode(st.getPath.getName, s)
            }
        case None =>
          graft.ingest.Crawler.tableProps(spark, table).toSeq
            .collect { case (k, v) if k.startsWith(Prefix) =>
              decode(k.stripPrefix(Prefix), v)
            }
      }).sortBy(_.name)

    /** Recreate every granted role's secured view from the durable
      * store — the cold-session step: a fresh session re-registers its
      * lake binding, calls this once, and `runAs` enforcement is back
      * without re-issuing a single GRANT. */
    def restoreViews(spark: SparkSession, table: String): Seq[Role] = {
      val roles = list(spark, table)
      createRoleViews(spark, table, roles)
      roles
    }

    def roleFor(spark: SparkSession, table: String, name: String): Option[Role] =
      list(spark, table).find(_.name == name)
  }
}
