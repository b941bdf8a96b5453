package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Worlds as CATALOG TABLES — the SQL front door to the chunk grid. The
  * reference exposes its worlds only through a programmatic handle
  * (/root/reference/src/lib.rs:30-44); Spark's `TableCatalog` contract lets
  * the same storage serve plain SQL:
  *
  * {{{
  *   spark.sql.catalog.graftcat           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graftcat.warehouse = /data/worlds
  *
  *   CREATE TABLE graftcat.events (event_id BIGINT, v DOUBLE, c0 BIGINT)
  *   INSERT INTO graftcat.events SELECT ...         -- routed append
  *   INSERT OVERWRITE graftcat.events SELECT ...    -- truncate-replace, or
  *                                                  -- per-chunk replace under
  *                                                  -- partitionOverwriteMode=dynamic
  *   SELECT * FROM graftcat.events WHERE c0 = 3     -- directory-pruned scan
  * }}}
  *
  * A table named `ns1.ns2.t` lives at `<warehouse>/ns1/ns2/t`; a table IS a
  * world directory (the `_graft_schema.json` sidecar marks existence, like
  * the reference's `NotFound -> empty` contract makes the directory itself
  * the source of truth). All read/write planning is the connector's —
  * pruning, pushdowns, storage-partitioned joins, staged overwrites work
  * identically through the catalog and the path API.
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"catalog $name requires spark.sql.catalog.$name.warehouse")
  }

  // COLUMN DEFAULT VALUES (r14): declared so Spark accepts `DEFAULT <lit>`
  // in CREATE TABLE and ALTER TABLE ADD/ALTER COLUMN against this catalog.
  // Spark encodes the default into the column's StructField metadata
  // (CURRENT_DEFAULT fills omitted INSERT columns — analyzer-side, no
  // connector work; EXISTS_DEFAULT is what rows written BEFORE the column
  // existed must read back as — served by the scan, see
  // GraftColumnarPartitionReader's absent-column fill).
  // ANSI CONSTRAINT surface (r14): `ALTER TABLE … ADD CONSTRAINT c CHECK
  // (…)` routes to the engine's OWN check machinery (GraftChecks — the
  // write-path gate every connector write already runs, with existing-data
  // validation at declaration), `DROP CONSTRAINT` removes the sidecar.
  // Non-CHECK kinds (PRIMARY KEY/UNIQUE/FOREIGN KEY) are REFUSED loudly:
  // this engine does not enforce them, and accepting them as unenforced
  // metadata would hand the optimizer a lie.
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT)

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def fs(): FileSystem =
    GraftHadoop.fs(warehouse)

  private def exists(ident: Identifier): Boolean =
    fs().exists(new Path(s"${pathOf(ident)}/_graft_schema.json"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs()
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isDirectory &&
        f.exists(new Path(s.getPath, "_graft_schema.json")))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    if (!exists(ident)) {
      // SQL METADATA TABLES: `SELECT * FROM <cat>.<table>.<meta>` — the
      // join-able introspection face of the procedures (`WHERE version >
      // …`, joins against history, etc.). Resolved only when the ident
      // itself is NOT a real table and its parent namespace IS one, so a
      // genuine table named e.g. `history` always wins.
      val meta = ident.name().toLowerCase(java.util.Locale.ROOT)
      if (ident.namespace().nonEmpty && GraftMetaTable.Kinds.contains(meta)) {
        val parent = Identifier.of(
          ident.namespace().dropRight(1), ident.namespace().last)
        if (exists(parent)) return new GraftMetaTable(pathOf(parent), meta)
      }
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    }
    val p = pathOf(ident)
    // WAP session staging: `SET graft.wap.branch = <name>` routes EVERY
    // DML statement of the session — INSERT, INSERT OVERWRITE, UPDATE,
    // MERGE, DELETE — through the named branch of each table it touches,
    // and reads audit the staged state, until system.fast_forward
    // publishes. A table WITHOUT the branch reads main as usual (source
    // tables need no fork) but refuses writes loudly — staging must never
    // silently leak to main. The conf is read per statement (loadTable
    // runs at analysis), so `SET`/`RESET` take effect immediately.
    val wap = try org.apache.spark.sql.SparkSession.active.conf
      .getOption("graft.wap.branch").map(_.trim).filter(_.nonEmpty)
    catch { case _: IllegalStateException => None } // no active session
    wap match {
      case Some(b) if GraftVersions.branchFork(fs(), new Path(p), b).isDefined =>
        new GraftTable(p, GraftDataSource.sidecarSchema(p),
          Some(GraftBranchPin(b)), viaCatalog = true)
      case Some(b) =>
        new GraftTable(p, GraftDataSource.sidecarSchema(p),
          viaCatalog = true, wapMissing = Some(b))
      case None =>
        new GraftTable(p, GraftDataSource.sidecarSchema(p), viaCatalog = true)
    }
  }

  /** `SELECT … FROM t VERSION AS OF n` — the table pinned to commit `n` of
    * its version log ([[GraftVersions]]): reads resolve manifest `n`'s
    * files, mutations are refused. The operand may also be a TAG name
    * (`VERSION AS OF 'release-1'`), resolved through the tag files
    * `system.tag` writes. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!exists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val p = pathOf(ident)
    val v = GraftVersions.resolveVersion(fs(), new Path(p), version)
    // eager manifest check: missing versions fail at analysis, not mid-scan
    GraftVersions.readManifest(fs(), new Path(p), v)
    new GraftTable(p, GraftDataSource.sidecarSchema(p), Some(GraftPin(v)))
  }

  /** `TIMESTAMP AS OF t` (micros since epoch): the newest commit whose
    * manifest was sealed at or before `t`. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!exists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val p = pathOf(ident)
    val f = fs()
    val root = new Path(p)
    val at = GraftVersions.listVersions(f, root).filter { v =>
      f.getFileStatus(GraftVersions.manifestPath(root, v))
        .getModificationTime * 1000L <= timestamp
    }
    if (at.isEmpty) throw new IllegalArgumentException(
      s"graft: no commit of $ident at or before timestamp $timestamp")
    new GraftTable(p, GraftDataSource.sidecarSchema(p), Some(GraftPin(at.max)))
  }

  // the TableInfo overload is what CREATE TABLE with inline CONSTRAINTs
  // arrives through — register CHECKs with the engine's own gate AFTER the
  // directory exists (an empty table trivially satisfies any check);
  // non-CHECK kinds refuse BEFORE anything is created
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    info.constraints().foreach {
      case _: org.apache.spark.sql.connector.catalog.constraints.Check => ()
      case other => throw new UnsupportedOperationException(
        s"graft: only CHECK constraints are enforced — refusing " +
          s"'${other.toDDL}' at CREATE (PRIMARY KEY/UNIQUE/FOREIGN KEY are " +
          "not enforced by this engine)")
    }
    // a CREATE-time default over an EMPTY directory has no pre-change
    // files to serve: strip EXISTS_DEFAULT (keeping CURRENT_DEFAULT for
    // INSERT fill) so the footer-derived aggregate pushdown is only ever
    // declined for columns genuinely evolved in after data existed. A
    // CREATE that ADOPTS a directory already holding chunk files keeps it:
    // those files predate the column and must read back the default.
    val tp = new Path(pathOf(ident))
    val adopting = fs().exists(tp) && fs().listStatus(tp).nonEmpty
    val schema =
      if (adopting) info.schema()
      else StructType(info.schema().fields.map { f =>
        if (!f.metadata.contains("EXISTS_DEFAULT")) f
        else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove("EXISTS_DEFAULT").build())
      })
    val t = createTable(ident, schema, info.partitions(), info.properties())
    info.constraints().foreach {
      case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
        val sql = ck.predicateSql()
        require(sql != null && sql.nonEmpty,
          s"graft: CHECK constraint ${ck.name()} carries no SQL text")
        GraftChecks.set(org.apache.spark.sql.SparkSession.active,
          pathOf(ident), ck.name(), sql)
      case _ => ()
    }
    t
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables derive their layout from bucket columns (c0..cN) in the " +
        "schema; PARTITIONED BY is not accepted")
    if (exists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val p = pathOf(ident)
    fs().mkdirs(new Path(p))
    GraftDataSource.writeSidecarIfAbsent(p, schema)
    new GraftTable(p, schema, viaCatalog = true)
  }

  /** `ALTER TABLE … ADD COLUMN` / `DROP COLUMN`: pure metadata operations
    * on the schema sidecar.
    *
    * ADD appends a NULLABLE top-level column: chunk files written before
    * the change simply lack the field, and the connector's readers (row
    * scan and pushed-aggregate scan alike) already surface absent fields as
    * NULL, so old and new files coexist in one grid — the Spark restatement
    * of the reference's `VERSION + decode(version, …)` contract
    * (/root/reference/src/world.rs:33-47: old payloads decode under the new
    * type).
    *
    * DROP is the LAZY drop every name-addressed lakehouse uses: the column
    * leaves the sidecar schema, so no reader projects it again (projection
    * is by name from the sidecar, and later COW rewrites shed the bytes
    * physically); old files keep their bytes untouched. The classic hazard
    * — re-ADDING the same name later would RESURRECT those old values — is
    * closed by recording dropped names in a `_graft_dropped` sidecar that
    * ADD refuses forever (formats with field IDs solve this structurally;
    * a name-addressed grid must refuse). Snapshot reads pinned BEFORE the
    * drop still see the column: their schema is the query-time sidecar —
    * time travel across a drop is a known sharp edge, documented not
    * hidden. Rename/retype/reposition and bucket columns stay refused:
    * those change the meaning of bytes on disk — `regrid` is the explicit
    * rebuild path. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!exists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val p = pathOf(ident)
    val cur = GraftDataSource.sidecarSchema(p)
    val updated = changes.foldLeft(cur) {
      case (s, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "graft: only top-level ADD COLUMN is supported")
        val n = add.fieldNames()(0)
        val dflt = Option(add.defaultValue())
        require(add.isNullable || dflt.isDefined,
          s"graft: added column $n must be nullable or carry a DEFAULT — " +
            "chunks written before the change must read back as something")
        require(!s.fieldNames.contains(n), s"column $n already exists")
        require(!GraftDataSource.isBucket(n),
          s"graft: cannot ADD bucket column $n — changing the grid is regrid()")
        require(!droppedNames(p).contains(n),
          s"graft: column $n was previously DROPPED — re-adding the name " +
            "would resurrect old files' values (name-addressed projection); " +
            "pick a new name or rebuild via regrid()")
        // DEFAULT rides the field metadata under Spark's own keys:
        // CURRENT_DEFAULT fills omitted INSERT columns (analyzer-side),
        // EXISTS_DEFAULT is the value pre-change files surface at scan.
        // EXISTS_DEFAULT must be the DDL-TIME FOLDED LITERAL, not the raw
        // SQL: Spark admits foldable-but-time-dependent defaults (DEFAULT
        // current_date()), and storing the raw text would re-evaluate it
        // at every scan — pre-change rows' readback drifting day by day
        // instead of being pinned at ADD time. The analyzer already folded
        // the expression into the change's connector literal; render THAT.
        val meta = dflt.map { d =>
          val sql = d.getSql
          require(sql != null && sql.nonEmpty,
            s"graft: DEFAULT for $n must be a SQL literal expression")
          val existsSql = Option(d.getValue).map { l =>
            org.apache.spark.sql.catalyst.expressions.Literal(
              l.value, l.dataType).sql
          }.getOrElse(sql)
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", sql)
            .putString("EXISTS_DEFAULT", existsSql)
            .build()
        }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
        s.add(StructField(n, add.dataType(), nullable = add.isNullable,
          metadata = meta))
      case (s, ud: TableChange.UpdateColumnDefaultValue) =>
        require(ud.fieldNames().length == 1,
          "graft: only top-level ALTER COLUMN is supported")
        val n = ud.fieldNames()(0)
        require(s.fieldNames.contains(n), s"column $n does not exist")
        require(!GraftDataSource.isBucket(n),
          s"graft: bucket column $n cannot carry a DEFAULT")
        StructType(s.fields.map { f =>
          if (f.name != n) f
          else {
            val sql = Option(ud.newCurrentDefault()).map(_.getSql)
              .orElse(Option(ud.newDefaultValue()).filter(_.nonEmpty))
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            // SET DEFAULT affects FUTURE inserts only (SQL standard):
            // EXISTS_DEFAULT — what pre-column files read back as — is
            // fixed at ADD time and never moves; DROP DEFAULT clears the
            // insert-time fill only
            sql match {
              case Some(v) if v != null && v.nonEmpty =>
                mb.putString("CURRENT_DEFAULT", v)
              case _ => mb.remove("CURRENT_DEFAULT")
            }
            f.copy(metadata = mb.build())
          }
        })
      case (s, ac: TableChange.AddConstraint) =>
        ac.constraint() match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
            val sql = ck.predicateSql()
            require(sql != null && sql.nonEmpty,
              s"graft: CHECK constraint ${ck.name()} carries no SQL text")
            // the engine's own gate: parses/resolves against the schema,
            // validates EXISTING data first, then every later write
            // (SQL, path API, streaming epochs) enforces it in-task
            GraftChecks.set(org.apache.spark.sql.SparkSession.active,
              p, ck.name(), sql)
            s
          case other => throw new UnsupportedOperationException(
            s"graft: only CHECK constraints are enforced — refusing " +
              s"'${other.toDDL}' (PRIMARY KEY/UNIQUE/FOREIGN KEY are not " +
              "enforced by this engine, and an unenforced declaration is " +
              "a lie the optimizer might believe)")
        }
      case (s, dc: TableChange.DropConstraint) =>
        val existed = GraftChecks.drop(p, dc.name())
        require(existed || dc.ifExists(),
          s"graft: no CHECK constraint named '${dc.name()}'")
        s
      case (s, del: TableChange.DeleteColumn) =>
        require(del.fieldNames().length == 1,
          "graft: only top-level DROP COLUMN is supported")
        val n = del.fieldNames()(0)
        require(s.fieldNames.contains(n) || del.ifExists(),
          s"column $n does not exist")
        require(!GraftDataSource.isBucket(n),
          s"graft: cannot DROP bucket column $n — changing the grid is regrid()")
        require(s.fields.count(f => !GraftDataSource.isBucket(f.name)) > 1 ||
            !s.fieldNames.contains(n),
          "graft: cannot DROP the last data column")
        if (s.fieldNames.contains(n)) noteDropped(p, n)
        StructType(s.fields.filterNot(_.name == n))
      case (s, rn: TableChange.RenameColumn) =>
        // RENAME is pure metadata: the `_graft_renames` sidecar maps the new
        // name onto the old per-file spelling, so existing chunk files serve
        // the renamed column without a byte rewritten (the reference's
        // decode-under-new-shape contract, /root/reference/src/lib.rs:41).
        // The old name joins `_graft_dropped` so a later ADD can never
        // resurrect pre-rename bytes under a recycled name.
        require(rn.fieldNames().length == 1,
          "graft: only top-level RENAME COLUMN is supported")
        val from = rn.fieldNames()(0); val to = rn.newName()
        require(s.fieldNames.contains(from), s"column $from does not exist")
        require(!GraftDataSource.isBucket(from),
          s"graft: cannot RENAME bucket column $from — changing the grid is regrid()")
        require(!GraftDataSource.isBucket(to),
          s"graft: $to is a reserved bucket-column name (c0..cN)")
        require(!s.fieldNames.contains(to), s"column $to already exists")
        require(!droppedNames(p).contains(to),
          s"graft: column $to was previously DROPPED or renamed away — " +
            "reusing the name would resurrect old files' values " +
            "(name-addressed projection); pick a new name or rebuild via regrid()")
        val refCheck = GraftChecks.list(p).find { case (_, expr) =>
          s"\\b${java.util.regex.Pattern.quote(from)}\\b".r
            .findFirstIn(expr).isDefined }
        require(refCheck.isEmpty,
          s"graft: cannot RENAME $from — CHECK constraint " +
            s"'${refCheck.get._1}' references it (${refCheck.get._2}); " +
            "drop_check first, rename, then re-declare under the new name")
        val renames = GraftDataSource.renamesOf(p)
        GraftDataSource.writeRenames(p,
          (renames - from) + (to -> (from +: renames.getOrElse(from, Nil))))
        noteDropped(p, from)
        StructType(s.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      case (s, un: TableChange.UpdateColumnNullability) =>
        require(un.fieldNames().length == 1,
          "graft: only top-level ALTER COLUMN is supported")
        val n = un.fieldNames()(0)
        require(s.fieldNames.contains(n), s"column $n does not exist")
        require(!GraftDataSource.isBucket(n),
          s"graft: bucket column $n nullability is fixed by the grid")
        if (!un.nullable()) {
          // tightening needs proof: one distributed scan, the CHECK
          // discipline — "the table satisfies its declared shape" must
          // hold from declaration onward
          val nulls = org.apache.spark.sql.SparkSession.active.read
            .format("graft").load(p)
            .where(org.apache.spark.sql.functions.col(n).isNull).count()
          require(nulls == 0L,
            s"graft: cannot SET NOT NULL on $n — $nulls existing row(s) " +
              "are NULL; fix the data first")
          require(!s.fields.exists(f => f.name == n &&
              f.metadata.contains("EXISTS_DEFAULT") &&
              f.metadata.getString("EXISTS_DEFAULT")
                .equalsIgnoreCase("NULL")),
            s"graft: $n's existence default is NULL — pre-change files " +
              "would surface NULL under a NOT NULL declaration")
        }
        StructType(s.fields.map(f =>
          if (f.name == n) f.copy(nullable = un.nullable()) else f))
      case (s, uc: TableChange.UpdateColumnComment) =>
        require(uc.fieldNames().length == 1,
          "graft: only top-level ALTER COLUMN is supported")
        val n = uc.fieldNames()(0)
        require(s.fieldNames.contains(n), s"column $n does not exist")
        StructType(s.fields.map(f =>
          if (f.name == n) f.withComment(uc.newComment()) else f))
      case (s, ut: TableChange.UpdateColumnType) =>
        // integral WIDENING only (BYTE<SHORT<INT<BIGINT): the readers
        // upcast narrower physical pages per file, so old files need no
        // rewrite; anything else changes the meaning of bytes — refused.
        require(ut.fieldNames().length == 1,
          "graft: only top-level ALTER COLUMN TYPE is supported")
        val n = ut.fieldNames()(0)
        require(s.fieldNames.contains(n), s"column $n does not exist")
        require(!GraftDataSource.isBucket(n),
          s"graft: cannot retype bucket column $n — changing the grid is regrid()")
        def rank(dt: org.apache.spark.sql.types.DataType): Int = dt match {
          case org.apache.spark.sql.types.ByteType => 1
          case org.apache.spark.sql.types.ShortType => 2
          case org.apache.spark.sql.types.IntegerType => 3
          case org.apache.spark.sql.types.LongType => 4
          case _ => -1
        }
        val cur0 = s.fields.find(_.name == n).get.dataType
        require(rank(cur0) > 0 && rank(ut.newDataType()) > 0 &&
            rank(ut.newDataType()) >= rank(cur0),
          s"graft: ALTER COLUMN $n TYPE ${ut.newDataType().simpleString} is " +
            s"not an integral widening of ${cur0.simpleString} — only " +
            "BYTE<SHORT<INT<BIGINT widen in place; other retypes reinterpret " +
            "bytes on disk and are refused (rebuild via regrid())")
        StructType(s.fields.map(f =>
          if (f.name == n) f.copy(dataType = ut.newDataType()) else f))
      case (_, other) => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other — only " +
          "ADD/DROP/RENAME COLUMN and integral-widening ALTER COLUMN TYPE; " +
          "use regrid for layout changes")
    }
    val f = fs()
    val out = GraftHadoop.create(f, new Path(s"$p/_graft_schema.json"), overwrite = true)
    out.write(updated.json.getBytes("UTF-8")); out.close()
    new GraftTable(p, updated, viaCatalog = true)
  }

  private def droppedPath(tablePath: String) =
    new Path(tablePath, "_graft_dropped")

  private def droppedNames(tablePath: String): Set[String] = {
    val f = fs(); val p = droppedPath(tablePath)
    if (!f.exists(p)) Set.empty
    else {
      val in = f.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      txt.split("\n").map(_.trim).filter(_.nonEmpty).toSet
    }
  }

  private def noteDropped(tablePath: String, name: String): Unit = {
    val all = droppedNames(tablePath) + name
    val out = GraftHadoop.create(fs(), droppedPath(tablePath), overwrite = true)
    try out.write((all.toSeq.sorted.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  override def dropTable(ident: Identifier): Boolean =
    exists(ident) && fs().delete(new Path(pathOf(ident)), true)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!exists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        oldIdent)
    if (exists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(newIdent)
    val f = fs()
    f.mkdirs(new Path(pathOf(newIdent)).getParent)
    if (!f.rename(new Path(pathOf(oldIdent)), new Path(pathOf(newIdent))))
      throw new IllegalStateException(
        s"rename $oldIdent -> $newIdent failed")
  }

  // ------------------------------------------------- maintenance procedures
  // `CALL <cat>.system.compact/stats(...)` — the grid-maintenance faces as
  // SQL (the reference has no DDL surface at all; Spark's ProcedureCatalog
  // makes them one statement instead of a programmatic World call).

  private[sources] def tablePath(dotted: String): String = {
    val parts = dotted.split('.')
    pathOf(Identifier.of(parts.dropRight(1), parts.last))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Array("compact", "stats", "rollback", "expire_versions",
        "rewrite_manifests", "versions",
        "tag", "drop_tag", "tags", "clone", "set_bloom", "zorder",
        "regrid", "branch", "fast_forward", "drop_branch", "branches",
        "remove_orphans", "set_stats")
        .map(Identifier.of(Array("system"), _))
    else Array.empty

  // FunctionCatalog face: the connector functions catalog-routed writes
  // resolve their sort orderings against (zvalue — the declared-Z-order
  // write contract, see GraftZOrder); also user-callable as
  // `SELECT <cat>.system.zvalue(a, b)`.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(namespace, "zvalue"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "zvalue" &&
        (ident.namespace().isEmpty ||
          ident.namespace().sameElements(Array("system"))))
      GraftZValueFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    (ident.namespace().toSeq, ident.name()) match {
      case (Seq("system"), "compact")  => new GraftCompactProcedure(this)
      case (Seq("system"), "stats")    => new GraftStatsProcedure(this)
      case (Seq("system"), "rollback") => new GraftRollbackProcedure(this)
      case (Seq("system"), "expire_versions") =>
        new GraftExpireVersionsProcedure(this)
      case (Seq("system"), "rewrite_manifests") =>
        new GraftRewriteManifestsProcedure(this)
      case (Seq("system"), "versions") => new GraftVersionsProcedure(this)
      case (Seq("system"), "clean_stages") => new GraftCleanStagesProcedure(this)
      case (Seq("system"), "tag")      => new GraftTagProcedure(this)
      case (Seq("system"), "drop_tag") => new GraftDropTagProcedure(this)
      case (Seq("system"), "tags")     => new GraftTagsProcedure(this)
      case (Seq("system"), "clone")    => new GraftCloneProcedure(this)
      case (Seq("system"), "set_bloom") => new GraftSetBloomProcedure(this)
      case (Seq("system"), "zorder")   => new GraftZOrderProcedure(this)
      case (Seq("system"), "regrid")   => new GraftRegridProcedure(this)
      case (Seq("system"), "branch")   => new GraftBranchProcedure(this, "branch")
      case (Seq("system"), "fast_forward") =>
        new GraftBranchProcedure(this, "fast_forward")
      case (Seq("system"), "drop_branch") =>
        new GraftBranchProcedure(this, "drop_branch")
      case (Seq("system"), "branches") => new GraftBranchesProcedure(this)
      case (Seq("system"), "publish") => new GraftPublishProcedure(this)
      case (Seq("system"), "remove_orphans") =>
        new GraftRemoveOrphansProcedure(this)
      case (Seq("system"), "set_retention") =>
        new GraftSetRetentionProcedure(this)
      case (Seq("system"), "set_compaction") =>
        new GraftSetCompactionProcedure(this)
      case (Seq("system"), "set_stats") => new GraftSetStatsProcedure(this)
      case (Seq("system"), "set_check") => new GraftSetCheckProcedure(this)
      case (Seq("system"), "drop_check") => new GraftDropCheckProcedure(this)
      case (Seq("system"), "index_text") => new GraftIndexTextProcedure(this)
      case (Seq("system"), "index_vector") => new GraftIndexVectorProcedure(this)
      case (Seq("system"), "index_refresh") => new GraftIndexRefreshProcedure(this)
      case (Seq("system"), "search_text") => new GraftSearchTextProcedure(this)
      case (Seq("system"), "search_vector") => new GraftSearchVectorProcedure(this)
      case (Seq("system"), "mv_create") => new GraftMvCreateProcedure(this)
      case (Seq("system"), "mv_refresh") => new GraftMvRefreshProcedure(this)
      case (Seq("system"), "analyze") => new GraftAnalyzeProcedure(this)
      case _ => throw new UnsupportedOperationException(
        s"graft catalog $catalogName has no procedure $ident (available: " +
          "system.compact, system.stats, system.rollback, " +
          "system.expire_versions, system.versions, system.clean_stages, " +
          "system.tag, system.drop_tag, system.tags, system.clone, " +
          "system.set_bloom, system.zorder, system.regrid, system.branch, " +
          "system.fast_forward, system.drop_branch, system.branches, " +
          "system.publish, " +
          "system.remove_orphans, " +
          "system.set_retention, system.set_compaction, system.set_stats, " +
          "system.index_text, " +
          "system.index_vector, system.index_refresh, system.search_text, " +
          "system.search_vector, system.set_check, system.drop_check, " +
          "system.mv_create, system.mv_refresh, system.analyze)")
    }
}

/** `CALL <cat>.system.zorder(table => 't', columns => 'a,b')` — declare
  * intra-chunk Z-order clustering on data columns and rewrite the current
  * cells into it. Two effects, deliberately in this order:
  *
  *   1. the `_graft_zorder` sidecar records the columns as a TABLE
  *      property, so every LATER write (INSERT, COW rewrite, compact)
  *      keeps the layout — a one-shot OPTIMIZE that later appends silently
  *      undo is the classic operational trap;
  *   2. the existing occupied cells are rewritten through the connector's
  *      dynamic-overwrite path (same content, new order): each cell
  *      replaced by its z-sorted self, staged and swapped at commit,
  *      sealed in the version log like any other write.
  *
  * The rewrite is ONE distributed job whose shuffle key is the bucket
  * columns (the write contract's clustering); at a 100k-chunk grid the
  * cost is the data volume, never a per-cell driver loop. Columns must be
  * bigint data columns (the zvalue kernel's domain — see
  * functions.ZValue for the masked-bits contract).
  */
class GraftZOrderProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "zorder"
  override def description(): String =
    "declare intra-chunk Z-order columns and rewrite current cells into it"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "zorder"
    override def description(): String = GraftZOrderProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("columns", org.apache.spark.sql.types.StringType)
        .comment("comma-separated bigint data columns, interleave order")
        .build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val table = input.getUTF8String(0).toString
      val cols = input.getUTF8String(1).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.size >= 2,
        s"system.zorder needs at least 2 columns to interleave, got $cols")
      val path = cat.tablePath(table)
      val spark = org.apache.spark.sql.SparkSession.active
      val qualified = s"${cat.name()}.$table"
      val schema = spark.table(qualified).schema
      cols.foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"system.zorder: no column $c in $table"))
        require(!GraftDataSource.isBucket(c),
          s"system.zorder: $c is a bucket column — the grid already " +
            "clusters on it; name data columns")
        require(f.dataType == org.apache.spark.sql.types.LongType,
          s"system.zorder: $c is ${f.dataType.simpleString}; the zvalue " +
            "kernel interleaves bigint columns")
      }
      val fs = GraftHadoop.fs(path)
      GraftZOrder.register(fs, new Path(path), cols)
      // rewrite every occupied cell as its z-sorted self: dynamic
      // overwrite replaces exactly the cells the (full-content) write
      // produces — cells stay cells, rows stay rows, order changes
      val cells = GraftDataSource.liveCells(fs, new Path(path), Array.empty).size
      if (cells > 0)
        spark.table(qualified).writeTo(qualified).overwritePartitions()
      GraftProcedures.singleRow("zordered_chunks", cells.toLong)
    }
  }
}

/** `CALL <cat>.system.regrid(table => 't', buckets => 'user_id DIV 256 AS
  * c0, kind AS c1')` — rebuild the table's chunk GEOMETRY: recompute the
  * bucket columns from data columns with new expressions and rewrite every
  * row into its new cell. The reference pins geometry at `World::new` and
  * offers no migration (/root/reference/src/world.rs:439-447 — a new grid
  * means a manual copy); at 100 TB "re-shard the table" is routine
  * maintenance, so it gets a first-class versioned face:
  *
  *   - ONE distributed job: live rows (manifest-resolved) re-bucketed by
  *     the new expressions, clustered by the new bucket columns, staged as
  *     a sibling tree, then file-MOVED into the grid — never a per-cell
  *     driver loop;
  *   - sealed as a NORMAL versioned commit that retires every predecessor
  *     file: old bytes stay in place (manifest-only liveness), so
  *     snapshots pinned BEFORE the regrid keep reading their own geometry
  *     — old files' bucket values come from their own directory paths; a
  *     bucket column the old geometry lacks reads as NULL and is never
  *     wrongly pruned on (GraftScan's partial-binding guards). A
  *     concurrent commit aborts the regrid loudly (retiring CAS loss), not
  *     the other way around;
  *   - the schema sidecar rewrites to the new bucket-column set, so later
  *     INSERTs route by the new geometry.
  */
class GraftRegridProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "regrid"
  override def description(): String =
    "rebuild the chunk geometry: recompute bucket columns and re-cell every row"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "regrid"
    override def description(): String = GraftRegridProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("buckets", org.apache.spark.sql.types.StringType)
        .comment("comma-separated SQL exprs aliased AS c0..cN, over data columns")
        .build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      import org.apache.spark.sql.functions.col
      val table = input.getUTF8String(0).toString
      // split on TOP-LEVEL commas only: bucket expressions are SQL and may
      // carry function-call commas (`hash(a, 16) AS c0`)
      val exprs = {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var depth = 0; val sb = new StringBuilder
        input.getUTF8String(1).toString.foreach {
          case ',' if depth == 0 => out += sb.toString; sb.clear()
          case ch =>
            if (ch == '(') depth += 1 else if (ch == ')') depth -= 1
            sb.append(ch)
        }
        out += sb.toString
        out.toSeq.map(_.trim).filter(_.nonEmpty)
      }
      require(exprs.nonEmpty, "system.regrid: at least one bucket expression")
      val path = cat.tablePath(table)
      val spark = org.apache.spark.sql.SparkSession.active
      val schema = GraftDataSource.sidecarSchema(path)
      val dataCols = schema.fields.filterNot(f =>
        GraftDataSource.isBucket(f.name)).map(_.name).toSeq
      val live = spark.read.format("graft").load(path)
        .select(dataCols.map(col): _*)
      val reb0 = live.selectExpr(dataCols ++ exprs: _*)
      val newBuckets = reb0.columns.drop(dataCols.size).toSeq
      require(newBuckets == newBuckets.indices.map(i => s"c$i"),
        s"system.regrid: bucket expressions must alias AS c0..c${exprs.size - 1} " +
          s"in order; got ${newBuckets.mkString(", ")}")
      val reb = reb0.select(dataCols.map(col) ++
        newBuckets.map(c => col(c).cast("long").as(c)): _*)
      // a NULL bucket value has no cell: refuse before touching anything
      require(reb.where(newBuckets.map(col(_).isNull).reduce(_ || _))
          .limit(1).isEmpty,
        "system.regrid: a bucket expression produced NULL — every row " +
          "must map to a cell; guard the expression (e.g. coalesce)")
      val fs = GraftHadoop.fs(path)
      val root = new Path(path)
      val stage = new Path(path + "__regrid_stage")
      fs.delete(stage, true)
      try {
        // one clustered job: a task per new cell, one file per cell
        reb.repartition(newBuckets.map(col): _*)
          .sortWithinPartitions(newBuckets.map(col): _*)
          .write.options(GraftBloom.writerOptions(GraftBloom.columns(fs, root)))
          .partitionBy(newBuckets: _*).parquet(stage.toString)
        // move staged cell files into the grid (names carry the write
        // job's uuid — unique forever, the manifest liveness contract)
        val added = GraftDataSource.walkChunks(fs, stage, Array.empty)
          .flatMap { case (d, b) =>
            GraftDataSource.chunkFileStatuses(fs, d).map { st =>
              val rel = GraftVersions.relOf(stage, st.getPath)
              val dest = new Path(root, rel)
              fs.mkdirs(dest.getParent)
              require(fs.rename(st.getPath, dest),
                s"system.regrid: move failed for $rel")
              GraftVersions.ManifestEntry(rel, st.getLen)
            }
          }
        // versioned seal: every predecessor file retires in place
        val c = GraftVersions.beginCommit(fs, root,
          excludeFromBaseline = added.map(_.rel).toSet)
        val removed = c.prev.map(_.map(_.rel).toSet)
          .getOrElse(GraftVersions.liveFiles(fs, root).toSet -- added.map(_.rel))
        val sealedV = GraftVersions.sealCommit(fs, root, c, removed, added)
        // schema sidecar: same data columns, the NEW bucket-column set
        val newSchema = StructType(
          schema.fields.filterNot(f => GraftDataSource.isBucket(f.name)).toSeq ++
            newBuckets.map(c => StructField(c,
              org.apache.spark.sql.types.LongType, nullable = true)))
        val out = GraftHadoop.create(fs, new Path(s"$path/_graft_schema.json"), overwrite = true)
        try out.write(newSchema.json.getBytes("UTF-8")) finally out.close()
        GraftProcedures.singleRow("version", sealedV)
      } finally fs.delete(stage, true)
    }
  }
}

/** `CALL <cat>.system.set_bloom(table => 't', columns => 'a,b')` — register
  * bloom columns on a table from SQL (the [[GraftBloom]] sidecar union;
  * point-lookup file skipping). Existing files gain blooms as rewrites and
  * new writes touch them; the registration itself is one sidecar write.
  * Returns the table's full registered column list. */
class GraftSetBloomProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "set_bloom"
  override def description(): String =
    "register bloom-filter columns for point-lookup file skipping"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "set_bloom"
    override def description(): String = GraftSetBloomProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("columns", org.apache.spark.sql.types.StringType)
        .comment("comma-separated column names to bloom").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val cols = input.getUTF8String(1).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val fs = GraftHadoop.fs(path)
      GraftBloom.register(fs, new Path(path), cols)
      GraftProcedures.scanOf(
        StructType(Seq(StructField("bloom_columns",
          org.apache.spark.sql.types.StringType, nullable = false))),
        Array(org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            GraftBloom.columns(fs, new Path(path)).mkString(",")))))
    }
  }
}

/** `CALL <cat>.system.remove_orphans(table => 't', older_than_hours => h)` —
  * delete live chunk files NO retained manifest references (crashed-driver
  * leaks in the grid itself; see [[GraftVersions.orphanFiles]] for the
  * exact rule and its two refusals). The walk is the connector's parallel
  * subtree listing; deletion is per-file metadata work; emptied cell dirs
  * are pruned so the grid never lists dead subtrees. Default age bound 24h
  * keeps any in-flight commit's just-moved files safe. */
class GraftRemoveOrphansProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "remove_orphans"
  override def description(): String =
    "delete live chunk files no retained manifest references"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "remove_orphans"
    override def description(): String =
      GraftRemoveOrphansProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("older_than_hours",
        org.apache.spark.sql.types.IntegerType)
        .defaultValue("24")
        .comment("only files older than this are swept (in-flight-commit " +
          "safety margin)").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val hours = input.getInt(1)
      require(hours >= 0, "remove_orphans: older_than_hours must be >= 0")
      val fs = GraftHadoop.fs(path)
      val root = new Path(path)
      val victims =
        GraftVersions.orphanFiles(fs, root, hours.toLong * 3600L * 1000L)
      victims.foreach { f =>
        fs.delete(f, false)
        // starts at f's PARENT (the cell dir): a cell holding only
        // orphans vanishes with them
        GraftStage.pruneEmptyParents(fs, f, root)
      }
      GraftProcedures.singleRow("removed_orphans", victims.size.toLong)
    }
  }
}

/** `CALL <cat>.system.clone(table => 't', target => '/path', version => n)`
  * — zero-copy read-only clone of a committed version at a fresh path (the
  * SQL face of [[GraftClone.create]]; version -1 = latest). Returns the
  * pinned version. The target is a PATH, not a catalog table: a clone is a
  * frozen artifact readers open by location (`spark.read.format("graft")`),
  * deliberately outside the catalog's mutable-table namespace. */
class GraftCloneProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "clone"
  override def description(): String =
    "zero-copy read-only clone of a committed version at a target path"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "clone"
    override def description(): String = GraftCloneProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("source table name within this catalog").build(),
      ProcedureParameter.in("target", org.apache.spark.sql.types.StringType)
        .comment("empty/absent directory for the clone").build(),
      ProcedureParameter.in("version", org.apache.spark.sql.types.LongType)
        .defaultValue("-1").comment("committed version; -1 = latest").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val src = cat.tablePath(input.getUTF8String(0).toString)
      val target = input.getUTF8String(1).toString
      val v = input.getLong(2)
      val pinned = GraftClone.create(src, target,
        if (v < 0) None else Some(v))
      GraftProcedures.singleRow("cloned_version", pinned)
    }
  }
}

/** `CALL <cat>.system.clean_stages(table => 't', older_than_hours => h)` —
  * remove staging grids a CRASHED driver left behind. Stage dirs are
  * per-write unique (`<table>__graft_<kind>_stage_<id>`, siblings of the
  * table root), so a driver that dies between writer creation and
  * commit/abort orphans one; nothing else ever lists them. The age gate is
  * what makes the sweep safe to run any time: a concurrent writer's LIVE
  * stage is hours-fresh and untouched, while an orphan only gets fresher
  * by another crash. Complements `expire_versions` in the maintenance
  * loop. Returns the number of stage dirs removed. */
class GraftCleanStagesProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "clean_stages"
  override def description(): String =
    "remove orphaned per-write staging grids older than the given age"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "clean_stages"
    override def description(): String =
      GraftCleanStagesProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("older_than_hours",
        org.apache.spark.sql.types.IntegerType)
        .defaultValue("24")
        .comment("only stages last modified at least this long ago").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val hours = input.getInt(1)
      val fs = GraftHadoop.fs(path)
      val p = new Path(path)
      val prefix = p.getName + "__graft_"
      val cutoff = System.currentTimeMillis() - hours * 3600000L
      val victims =
        if (!fs.exists(p.getParent)) Seq.empty
        else fs.listStatus(p.getParent).toSeq.filter { s =>
          s.isDirectory && s.getPath.getName.startsWith(prefix) &&
            s.getPath.getName.contains("_stage") &&
            s.getModificationTime < cutoff
        }
      victims.foreach(s => fs.delete(s.getPath, true))
      GraftProcedures.singleRow("removed_stages", victims.size.toLong)
    }
  }
}

/** `CALL <cat>.system.versions(table => 't')` — the commit log as rows: one
  * per retained version with its seal time and live-file count (manifest
  * reads only, no data touched). The DESCRIBE-HISTORY face an operator
  * needs before choosing a `VERSION AS OF` target or a rollback point. */
class GraftVersionsProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "versions"
  override def description(): String =
    "retained commit versions with seal time (epoch micros) and file count"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "versions"
    override def description(): String = GraftVersionsProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val fs = GraftHadoop.fs(path)
      val root = new Path(path)
      val schema = StructType(Seq(
        StructField("version", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("sealed_at_us", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("files", org.apache.spark.sql.types.LongType, nullable = false),
        // manifest-carried sizes: the per-version live byte total costs
        // nothing beyond the manifest read already happening (−1 when a
        // pre-size-format manifest line leaves a length unknown)
        StructField("bytes", org.apache.spark.sql.types.LongType, nullable = false)))
      val rows = GraftVersions.listVersions(fs, root).map { v =>
        val entries = GraftVersions.readEntries(fs, root, v)
        org.apache.spark.sql.catalyst.InternalRow(
          v,
          fs.getFileStatus(GraftVersions.manifestPath(root, v))
            .getModificationTime * 1000L,
          entries.size.toLong,
          if (entries.forall(_.size >= 0L)) entries.map(_.size).sum else -1L)
      }.toArray
      GraftProcedures.scanOf(schema, rows)
    }
  }
}

/** `CALL <cat>.system.rollback(table => 't', version => n)` — restore the
  * table to commit `n` by sealing a NEW version whose manifest is exactly
  * `n`'s (history stays append-only, so the rolled-back states remain
  * addressable until retention expires them). The undo button for a bad
  * backfill driven through UPDATE/MERGE/OVERWRITE. Pure metadata under
  * manifest-only liveness: two manifest reads and one write — zero file
  * moves, zero data read, no matter how many bytes are "un-done". Returns
  * the new version. */
class GraftRollbackProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "rollback"
  override def description(): String =
    "restore a table to a committed version (sealed as a new version)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "rollback"
    override def description(): String = GraftRollbackProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("version", org.apache.spark.sql.types.LongType)
        .comment("committed version to restore").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val fs = GraftHadoop.fs(path)
      val newV = GraftVersions.rollback(fs, new Path(path), input.getLong(1))
      GraftProcedures.singleRow("new_version", newV)
    }
  }
}

/** `CALL <cat>.system.rewrite_manifests(table => 't')` — force a fresh
  * manifest layout: the current live set seals as a new version with NO
  * segment reuse, re-bucketing under the current segmentation target
  * (collapse after mass deletes, re-segment after a target change, upgrade
  * a big flat log to the segmented format). Pure metadata; zero data files
  * move. Returns the new version. */
class GraftRewriteManifestsProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "rewrite_manifests"
  override def description(): String =
    "seal the live set as a new version with a fresh manifest layout"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "rewrite_manifests"
    override def description(): String =
      GraftRewriteManifestsProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val fs = GraftHadoop.fs(path)
      val newV = GraftVersions.rewriteManifests(fs, new Path(path))
      GraftProcedures.singleRow("new_version", newV)
    }
  }
}

/** `CALL <cat>.system.expire_versions(table => 't', keep => k)` — retention:
  * drop all but the newest `k` manifests and the history files only expired
  * snapshots could reach. The maintenance loop that bounds history growth
  * on DML-heavy and streaming tables. Returns the expired-manifest count. */
class GraftExpireVersionsProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "expire_versions"
  override def description(): String =
    "drop all but the newest k versions and their unreachable history files"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "expire_versions"
    override def description(): String =
      GraftExpireVersionsProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("keep", org.apache.spark.sql.types.IntegerType)
        .defaultValue("2").comment("newest versions to keep").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val fs = GraftHadoop.fs(path)
      val n = GraftVersions.expire(fs, new Path(path), input.getInt(1))
      GraftProcedures.singleRow("expired_manifests", n)
    }
  }
}

/** `CALL <cat>.system.set_retention(table => 't', keep => k)` — declare
  * AUTOMATIC retention: every later versioned commit self-expires the log
  * down to the newest `k` manifests after its seal (tagged versions still
  * survive, and retired-in-place bytes only the expired manifests
  * referenced are vacuumed) — the maintenance-free bounded log for
  * DML-heavy batch tables, the table-level twin of the streaming sink's
  * `graft.versions.keep`. `keep <= 0` clears the declaration. The value is
  * name-encoded inside `_graft_versions`, so the commit path learns it
  * from the listing it already performs — zero added round trips. Returns
  * the declared keep (0 = cleared). */
class GraftSetRetentionProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "set_retention"
  override def description(): String =
    "declare automatic per-commit retention (keep newest k versions)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "set_retention"
    override def description(): String =
      GraftSetRetentionProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("keep", org.apache.spark.sql.types.IntegerType)
        .comment("newest versions every commit keeps; <= 0 clears").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val keep = input.getInt(1)
      val fs = GraftHadoop.fs(path)
      GraftVersions.setRetention(fs, new Path(path), keep)
      GraftProcedures.singleRow("retention_keep", math.max(keep, 0).toLong)
    }
  }
}

/** `CALL <cat>.system.set_compaction(table => 't', max_files => n)` —
  * declare AUTOMATIC COMPACTION for plain appends: after each later
  * append's seal, the cells that append touched whose live file count
  * exceeds `n` rewrite to one file through a versioned dynamic overwrite
  * (bounded to touched cells, CAS-sealed, never a barrier — downstream
  * version-cursor streams keep advancing). Appends are the one fragmenting
  * batch commit; the streaming sink's `graft.compact.maxFiles` is the
  * per-stream form. `max_files <= 0` clears. Name-encoded beside the
  * retention marker — zero added round trips per commit. */
class GraftSetCompactionProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "set_compaction"
  override def description(): String =
    "declare automatic append compaction (rewrite touched cells over max_files)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "set_compaction"
    override def description(): String =
      GraftSetCompactionProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("max_files", org.apache.spark.sql.types.IntegerType)
        .comment("rewrite touched cells above this live file count; <= 0 clears")
        .build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val maxFiles = input.getInt(1)
      val fs = GraftHadoop.fs(path)
      GraftVersions.setCompaction(fs, new Path(path), maxFiles)
      GraftProcedures.singleRow("compaction_max_files",
        math.max(maxFiles, 0).toLong)
    }
  }
}

/** `CALL <cat>.system.set_check(table => 't', name => 'c', expr => 'v > 0')`
  * — declare (or replace) a CHECK constraint: validated against ALL
  * existing rows first (refuses if any violate), then enforced on every
  * later write through the connector ([[GraftChecks]]). Returns the
  * number of existing violations (always 0 on success). */
class GraftSetCheckProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "set_check"
  override def description(): String =
    "declare a CHECK constraint (validates existing data, enforced on every write)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "set_check"
    override def description(): String = GraftSetCheckProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType).build(),
      ProcedureParameter.in("name", org.apache.spark.sql.types.StringType).build(),
      ProcedureParameter.in("expr", org.apache.spark.sql.types.StringType)
        .comment("boolean SQL over the table's columns; NULL passes (ANSI)")
        .build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      GraftChecks.set(org.apache.spark.sql.SparkSession.active, path,
        input.getUTF8String(1).toString, input.getUTF8String(2).toString)
      GraftProcedures.singleRow("violations", 0L)
    }
  }
}

/** `CALL <cat>.system.drop_check(table => 't', name => 'c')`. */
class GraftDropCheckProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "drop_check"
  override def description(): String = "drop a declared CHECK constraint"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "drop_check"
    override def description(): String = GraftDropCheckProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType).build(),
      ProcedureParameter.in("name", org.apache.spark.sql.types.StringType).build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val dropped = GraftChecks.drop(
        cat.tablePath(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString)
      GraftProcedures.singleRow("dropped", if (dropped) 1L else 0L)
    }
  }
}

/** `CALL <cat>.system.compact(table => 't', max_files => 1)` — rewrite every
  * chunk directory holding more than `max_files` data files down to one file
  * per chunk. Fragment discovery is the connector's parallel subtree-pruned
  * grid walk (metadata only); the rewrite READS the fragmented cells through
  * the table and writes them back through the connector's bucket-scoped
  * STAGED overwrite — one distributed job whose declared clustering yields
  * exactly one file per cell, with the world untouched until the staged swap
  * (the same commit path `INSERT OVERWRITE` uses, so compaction inherits its
  * crash behavior). The cell predicate is an OR of bucket conjunctions:
  * per-statement cost grows with the fragmented-cell count, which suits the
  * incremental "compact what the last append fragmented" maintenance loop;
  * a full-grid rewrite of a uniformly fragmented world belongs to
  * `World.compact` (struct-IN predicate, same staged rewrite). Returns one
  * row: the number of compacted chunks. */
class GraftCompactProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "compact"
  override def description(): String =
    "rewrite chunk dirs with more than max_files data files to one file per chunk"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "compact"
    override def description(): String = GraftCompactProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog, e.g. 't' or 'ns.t'").build(),
      ProcedureParameter.in("max_files", org.apache.spark.sql.types.IntegerType)
        .defaultValue("1").comment("rewrite cells holding more data files than this")
        .build(),
      ProcedureParameter.in("max_deleted_pct", org.apache.spark.sql.types.IntegerType)
        .defaultValue("100")
        .comment("also rewrite cells whose deletion-vector rows exceed this " +
          "percentage of their physical rows (merge-on-read shedding; 100 = off)")
        .build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      import org.apache.spark.sql.functions._
      val table = input.getUTF8String(0).toString
      val maxFiles = input.getInt(1)
      val maxDeletedPct = input.getInt(2)
      val path = cat.tablePath(table)
      val fs = GraftHadoop.fs(path)
      val root = new Path(path)
      // LIVE-cell counts (manifest-resolved when authoritative) — a
      // retired-in-place file is not fragmentation. A cell whose deletion
      // vectors cover more than max_deleted_pct of its physical rows is
      // due too: the rewrite reads through the vectors and sheds them
      // (row counts ride the manifest; count-less legacy entries judge by
      // file count only — never a footer walk here).
      def deletedHeavy(files: Seq[GraftDataSource.FileRef]): Boolean = {
        if (maxDeletedPct >= 100) return false
        val counted = files.filter(_.rows >= 0L)
        val rows = counted.map(_.rows).sum
        val dv = counted.map(_.dv.map(_._2).getOrElse(0L)).sum
        rows > 0L && dv * 100L > maxDeletedPct.toLong * rows
      }
      val frag: Seq[Map[String, Long]] =
        GraftDataSource.liveCells(fs, root, Array.empty)
          .filter { case (_, _, files) =>
            files.sizeIs > maxFiles || deletedHeavy(files) }
          .map(_._2)
      if (frag.nonEmpty) {
        val spark = org.apache.spark.sql.SparkSession.active
        val pred = frag.map(_.toSeq.sortBy(_._1)
            .map { case (k, v) => col(k) === lit(v) }
            .reduce(_ && _))
          .reduce(_ || _)
        val qualified = s"${cat.name()}.$table"
        spark.table(qualified).where(pred).writeTo(qualified).overwrite(pred)
      }
      GraftProcedures.singleRow("compacted_chunks", frag.size.toLong)
    }
  }
}

/** `CALL <cat>.system.stats(table => 't')` — one row per chunk cell with its
  * file count and byte size, straight from the directory walk (no data
  * read): the SQL face of the reference's world introspection, and the
  * input that tells an operator whether `compact` is due. */
class GraftStatsProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "stats"
  override def description(): String =
    "per-chunk-cell file count and byte size (metadata only)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "stats"
    override def description(): String = GraftStatsProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val table = input.getUTF8String(0).toString
      val path = cat.tablePath(table)
      val fs = GraftHadoop.fs(path)
      val root = new Path(path)
      val schema = StructType(Seq(
        StructField("cell", org.apache.spark.sql.types.StringType, nullable = false),
        StructField("files", org.apache.spark.sql.types.IntegerType, nullable = false),
        StructField("bytes", org.apache.spark.sql.types.LongType, nullable = false)))
      val rows: Array[org.apache.spark.sql.catalyst.InternalRow] =
        GraftDataSource.liveCells(fs, root, Array.empty)
          .sortBy { case (_, b, _) => b.toSeq.sortBy(_._1).map(_._2).mkString(",") }
          .map { case (d, b, files) =>
            // sizes ride the live resolution (manifest-carried); only a
            // pre-size-format line (−1) needs a listing, filtered to live
            // names (retired-in-place bytes are not table stats)
            val lens =
              if (files.forall(_.size >= 0L)) files.map(_.size)
              else {
                val live = files.map(_.path.getName).toSet
                if (!fs.exists(d)) Seq.empty
                else fs.listStatus(d).toSeq.filter(st => st.isFile &&
                  live.contains(st.getPath.getName)).map(_.getLen)
              }
            org.apache.spark.sql.catalyst.InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(
                b.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")),
              files.size,
              lens.sum)
          }.toArray
      GraftProcedures.scanOf(schema, rows)
    }
  }
}

/** `CALL <cat>.system.tag(table => 't', name => 'release-1', version => n)`
  * — pin a human name to a committed version. Tagged versions read back via
  * `VERSION AS OF 'release-1'` (or the path API's `graft.snapshot`) and are
  * RETAINED past `expire_versions`' keep window — the "this training run
  * read exactly this corpus state" handle a reproducible pipeline needs. */
class GraftTagProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "tag"
  override def description(): String =
    "pin a name to a committed version (retained past expire_versions)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "tag"
    override def description(): String = GraftTagProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("name", org.apache.spark.sql.types.StringType)
        .comment("tag name ([A-Za-z][A-Za-z0-9._-]*)").build(),
      ProcedureParameter.in("version", org.apache.spark.sql.types.LongType)
        .comment("committed version to pin").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val fs = GraftHadoop.fs(path)
      val v = input.getLong(2)
      GraftVersions.setTag(fs, new Path(path),
        input.getUTF8String(1).toString, v)
      GraftProcedures.singleRow("tagged_version", v)
    }
  }
}

/** `CALL <cat>.system.drop_tag(table => 't', name => 'release-1')` — remove
  * a tag (its version re-enters normal retention). Returns 1 if dropped. */
class GraftDropTagProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "drop_tag"
  override def description(): String = "remove a version tag"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "drop_tag"
    override def description(): String = GraftDropTagProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("name", org.apache.spark.sql.types.StringType)
        .comment("tag name").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val fs = GraftHadoop.fs(path)
      val dropped = GraftVersions.dropTag(fs, new Path(path),
        input.getUTF8String(1).toString)
      GraftProcedures.singleRow("dropped", if (dropped) 1L else 0L)
    }
  }
}

/** `CALL <cat>.system.tags(table => 't')` — list (tag, version). */
class GraftTagsProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "tags"
  override def description(): String = "version tags of a table"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "tags"
    override def description(): String = GraftTagsProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val fs = GraftHadoop.fs(path)
      val schema = StructType(Seq(
        StructField("tag", org.apache.spark.sql.types.StringType, nullable = false),
        StructField("version", org.apache.spark.sql.types.LongType, nullable = false)))
      val rows = GraftVersions.listTags(fs, new Path(path)).map { case (n, v) =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(n), v)
      }.toArray
      GraftProcedures.scanOf(schema, rows)
    }
  }
}

/** Writable-branch (write-audit-publish) procedures — see
  * [[GraftVersions.createBranch]]:
  *
  *   - `system.branch(table, name)` — fork a mutable head at main's latest;
  *     stage appends with `df.write.option("graft.branch", name)` and read
  *     the staged state with the same read option;
  *   - `system.fast_forward(table, branch)` — publish: main's next version
  *     seals with the branch head's entries (pure metadata, zero file
  *     moves) and the branch drops; refused loudly if main advanced since
  *     the fork;
  *   - `system.drop_branch(table, name)` — abandon: main is untouched, the
  *     branch's exclusive files fall to remove_orphans;
  *   - `system.branches(table)` — (branch, fork_version) listing.
  */
class GraftBranchProcedure(cat: GraftCatalog, val op: String)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = op
  override def description(): String = op match {
    case "branch"       => "fork a writable staging branch at main's latest commit"
    case "fast_forward" => "publish a branch head as main's next version"
    case _              => "abandon a staging branch (main untouched)"
  }

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = op
    override def description(): String = GraftBranchProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in(if (op == "fast_forward") "branch" else "name",
          org.apache.spark.sql.types.StringType)
        .comment("branch name").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val name = input.getUTF8String(1).toString
      val fs = GraftHadoop.fs(path)
      val root = new Path(path)
      op match {
        case "branch" =>
          GraftProcedures.singleRow("fork_version",
            GraftVersions.createBranch(fs, root, name))
        case "fast_forward" =>
          GraftProcedures.singleRow("version",
            GraftVersions.fastForward(fs, root, name))
        case _ =>
          GraftProcedures.singleRow("dropped",
            if (GraftVersions.dropBranch(fs, root, name)) 1L else 0L)
      }
    }
  }
}

/** `CALL <cat>.system.publish(branch => 'audit' [, tables => 't1,t2'])` —
  * CROSS-TABLE atomic publish ([[GraftVersions.fastForwardAll]]): every
  * named table's `branch` head (default: every table in the catalog that
  * HAS the branch — the whole WAP session's footprint) fast-forwards to
  * main in one all-or-nothing cycle. Any validation or claim failure on
  * ANY table aborts the lot with zero mains changed — a multi-table
  * pipeline (corpus + its indexes + its MVs) goes live together or not at
  * all. Returns one row per table: (table, version). */
class GraftPublishProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "publish"
  override def description(): String =
    "fast-forward a branch on every table that staged it, all-or-nothing"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "publish"
    override def description(): String = GraftPublishProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("branch", org.apache.spark.sql.types.StringType)
        .comment("branch name to publish").build(),
      ProcedureParameter.in("tables", org.apache.spark.sql.types.StringType)
        .defaultValue("''")
        .comment("comma-separated table list; empty = every table with the branch")
        .build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val branch = input.getUTF8String(0).toString
      val declared = Option(input.getUTF8String(1)).map(_.toString.trim)
        .filter(_.nonEmpty)
      val names: Seq[String] = declared match {
        case Some(list) => list.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        case None =>
          // the session's whole WAP footprint: every catalog table that
          // forked this branch
          cat.listTables(Array.empty).toSeq.map(_.name).filter { t =>
            val p = cat.tablePath(t)
            val fs = GraftHadoop.fs(p)
            GraftVersions.branchFork(fs, new Path(p), branch).isDefined
          }.sorted
      }
      require(names.nonEmpty,
        s"graft publish: no table in this catalog has a branch '$branch'")
      val tables = names.map { t =>
        val p = cat.tablePath(t)
        (GraftHadoop.fs(p), new Path(p))
      }
      val versions = GraftVersions.fastForwardAll(tables, branch)
      val schema = StructType(Seq(
        StructField("table", org.apache.spark.sql.types.StringType, nullable = false),
        StructField("version", org.apache.spark.sql.types.LongType, nullable = false)))
      GraftProcedures.scanOf(schema, names.zip(versions).map { case (t, v) =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), v)
      }.toArray)
    }
  }
}

class GraftBranchesProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "branches"
  override def description(): String = "staging branches of a table"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "branches"
    override def description(): String = GraftBranchesProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val fs = GraftHadoop.fs(path)
      val schema = StructType(Seq(
        StructField("branch", org.apache.spark.sql.types.StringType, nullable = false),
        StructField("fork_version", org.apache.spark.sql.types.LongType,
          nullable = false)))
      val rows = GraftVersions.listBranches(fs, new Path(path)).map {
        case (n, v) => org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(n), v)
      }.toArray
      GraftProcedures.scanOf(schema, rows)
    }
  }
}

/** SQL metadata tables over one world — `SELECT * FROM <cat>.<t>.<meta>`:
  *
  *   - `history` — the commit log: (version, sealed_at_us, files, bytes),
  *     manifest reads only (bytes −1 when a pre-size-format line leaves a
  *     length unknown);
  *   - `files` — live data files: (cell, file, bytes), resolved through
  *     the latest manifest when the log is authoritative (retired-in-place
  *     files never listed), physical walk otherwise;
  *   - `cells` — per-cell rollup of `files`: (cell, files, bytes) — the
  *     table face of `system.stats`;
  *   - `tags` — named version refs: (name, version).
  *
  * Each query re-reads the state at scan build (no caching); all content
  * is driver-side metadata (a LocalScan), never a data read. The same
  * numbers drive maintenance decisions procedurally (`system.versions` /
  * `system.stats`); the table face exists so operators can FILTER and JOIN
  * them — "which versions added more than N files", "cells above the
  * compaction threshold", straight SQL. */
private[sources] class GraftMetaTable(path: String, meta: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._
  override def name(): String = s"graft:$path#$meta"
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def schema(): StructType = GraftMetaTable.schemaOf(meta)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
        GraftMetaTable.rowsOf(path, meta)
      override def readSchema(): StructType = GraftMetaTable.schemaOf(meta)
    }
}

private[sources] object GraftMetaTable {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  val Kinds: Set[String] =
    Set("history", "files", "cells", "tags", "checks", "manifests", "colstats")

  def schemaOf(meta: String): StructType = meta match {
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("sealed_at_us", LongType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))
    case "files" => StructType(Seq(
      StructField("cell", StringType, nullable = false),
      StructField("file", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      // the manifest-carried zone map, `col=min:max;…` (empty = none) —
      // SELECT-able observability for "why was/wasn't this file pruned"
      StructField("bounds", StringType, nullable = false),
      // manifest-carried physical row count (−1 = unknown) and the
      // deletion vector's cardinality — "why is my COUNT lower than the
      // file's rows" answered by one SELECT
      StructField("rows", LongType, nullable = false),
      StructField("deleted_rows", LongType, nullable = false)))
    case "cells" => StructType(Seq(
      StructField("cell", StringType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))
    case "tags" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    case "checks" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("expr", StringType, nullable = false)))
    // the commit log's own physiology: flat vs segmented roots, entry and
    // segment counts, and how many segments each seal REUSED from its
    // predecessor — "is my metadata write O(touched)" answered by SELECT
    case "manifests" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("entries", LongType, nullable = false),
      StructField("segments", LongType, nullable = false),
      StructField("reused_segments", LongType, nullable = false)))
    // the ANALYZE sidecar as rows — "what does the planner believe about
    // this column, and how stale is that belief" answered by one SELECT
    case "colstats" => StructType(Seq(
      StructField("col", StringType, nullable = false),
      StructField("dtype", StringType, nullable = false),
      StructField("ndv", LongType, nullable = false),
      StructField("nulls", LongType, nullable = false),
      StructField("min", StringType, nullable = true),
      StructField("max", StringType, nullable = true),
      StructField("avg_len", LongType, nullable = false),
      StructField("max_len", LongType, nullable = false),
      StructField("analyzed_version", LongType, nullable = false),
      StructField("exact", BooleanType, nullable = false),
      StructField("hist_bins", LongType, nullable = false)))
    case other => throw new IllegalArgumentException(s"unknown meta table $other")
  }

  def rowsOf(path: String, meta: String): Array[InternalRow] = {
    val fs = GraftHadoop.fs(path)
    val root = new Path(path)
    def cellOf(b: Map[String, Long]): UTF8String = UTF8String.fromString(
      b.toSeq.sortBy(_._1.drop(1).toInt)
        .map { case (k, v) => s"$k=$v" }.mkString("/"))
    meta match {
      case "history" =>
        GraftVersions.listVersions(fs, root).map { v =>
          val entries = GraftVersions.readEntries(fs, root, v)
          InternalRow(v,
            fs.getFileStatus(GraftVersions.manifestPath(root, v))
              .getModificationTime * 1000L,
            entries.size.toLong,
            if (entries.forall(_.size >= 0L)) entries.map(_.size).sum else -1L)
        }.toArray
      case "files" =>
        GraftDataSource.liveCells(fs, root, Array.empty)
          .sortBy { case (_, b, _) => b.toSeq.sortBy(_._1).map(_._2).mkString(",") }
          .flatMap { case (_, b, files) =>
            files.map { fr =>
              InternalRow(cellOf(b), UTF8String.fromString(fr.path.getName),
                fr.size,
                UTF8String.fromString(
                  (fr.stats.toSeq.map { case (c, (mn, mx)) => c -> s"$mn:$mx" } ++
                    fr.sstats.toSeq.map { case (c, (mn, mx)) => c -> s"s$mn:s$mx" })
                    .sortBy(_._1)
                    .map { case (c, bd) => s"$c=$bd" }.mkString(";")),
                fr.rows,
                fr.dv.map(_._2).getOrElse(0L))
            }
          }.toArray
      case "cells" =>
        GraftDataSource.liveCells(fs, root, Array.empty)
          .sortBy { case (_, b, _) => b.toSeq.sortBy(_._1).map(_._2).mkString(",") }
          .map { case (_, b, files) =>
            InternalRow(cellOf(b), files.size.toLong,
              if (files.forall(_.size >= 0L)) files.map(_.size).sum else -1L)
          }.toArray
      case "tags" =>
        GraftVersions.listTags(fs, root).map { case (n, v) =>
          InternalRow(UTF8String.fromString(n), v)
        }.toArray
      case "manifests" =>
        // reused = segments referenced by ANY earlier retained version —
        // rollback and publish reuse from their SOURCE root, not the
        // immediate predecessor, and must report full reuse, not zero
        val seen = scala.collection.mutable.HashSet.empty[String]
        GraftVersions.listVersions(fs, root).map { v =>
          val (fmt, entries, segs, rels) = GraftVersions.rootSummary(fs, root, v)
          val reused = rels.count(seen.contains).toLong
          seen ++= rels
          InternalRow(v, UTF8String.fromString(fmt), entries, segs, reused)
        }.toArray
      case "checks" =>
        GraftChecks.list(path).map { case (n, e) =>
          InternalRow(UTF8String.fromString(n), UTF8String.fromString(e))
        }.toArray
      case "colstats" =>
        GraftColStats.read(path).map { ts =>
          ts.cols.sortBy(_.name).map { c =>
            InternalRow(UTF8String.fromString(c.name),
              UTF8String.fromString(c.dtype), c.ndv, c.nulls,
              c.min.map(UTF8String.fromString).orNull,
              c.max.map(UTF8String.fromString).orNull,
              c.avgLen, c.maxLen, ts.version, ts.exact,
              c.hist.map(_._2.size.toLong).getOrElse(0L))
          }.toArray
        }.getOrElse(Array.empty)
      case other => throw new IllegalArgumentException(s"unknown meta table $other")
    }
  }
}

private[sources] object GraftProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.Scan

  def scanOf(schema: StructType, rs: Array[InternalRow])
      : java.util.Iterator[Scan] =
    java.util.List.of[Scan](new org.apache.spark.sql.connector.read.LocalScan {
      override def rows(): Array[InternalRow] = rs
      override def readSchema(): StructType = schema
    }).iterator()

  def singleRow(colName: String, v: Long): java.util.Iterator[Scan] =
    scanOf(
      StructType(Seq(StructField(colName,
        org.apache.spark.sql.types.LongType, nullable = false))),
      Array(InternalRow(v)))
}

/** `CALL <cat>.system.set_stats(table => 't', columns => 'a,b' | 'auto' |
  * 'off')` — declare the table's ZONE-MAP capture policy ([[GraftStats]]).
  * Capture is on by default ('auto': every integral data column, capped);
  * 'off' stops future commits from reading footers at seal time; a column
  * list narrows capture to the named columns. Takes effect from the next
  * commit — already-sealed manifests keep the bounds they carry (files
  * are immutable, so stale bounds are still TRUE bounds; pruning against
  * them stays sound either way). */
class GraftSetStatsProcedure(cat: GraftCatalog)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._

  override def name(): String = "set_stats"
  override def description(): String =
    "declare zone-map capture: 'auto' (default), 'off', or a column list"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "set_stats"
    override def description(): String =
      GraftSetStatsProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
        .comment("table name within this catalog").build(),
      ProcedureParameter.in("columns", org.apache.spark.sql.types.StringType)
        .comment("'auto', 'off', or comma-separated column names").build())
    override def isDeterministic: Boolean = false

    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val path = cat.tablePath(input.getUTF8String(0).toString)
      val value = input.getUTF8String(1).toString.trim
      val fs = GraftHadoop.fs(path)
      GraftStats.declare(fs, new Path(path), value)
      GraftProcedures.singleRow("stats_declared", 1L)
    }
  }
}
