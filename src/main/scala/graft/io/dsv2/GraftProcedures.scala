package graft.io.dsv2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.io.{IndexCompaction, Landing, Manifest, MergeOnRead}

/** SQL `CALL` procedures for manifest-table MAINTENANCE — the verbs
  * writes must not be (Iceberg's `CALL catalog.system.*` UX, on Spark
  * 4's native ProcedureCatalog hooks): the catalog's DDL stays
  * read-only because blind INSERTs can't honor the commit protocol,
  * but the protocol's own maintenance operations are safe to expose —
  * each is exactly one library call that commits (or reclaims)
  * atomically, and each RETURNS its result as rows:
  *
  * {{{
  *   CALL lake.history('events')            -- the commit ledger
  *   CALL lake.expire('events', 2)          -- retention (keep last 2)
  *   CALL lake.compact('events')            -- small files → one commit
  *   CALL lake.fold('events', 'id')         -- apply MoR tombstones
  *   CALL lake.tag('events', 'v1.0', 3)     -- named ref
  *   CALL lake.drop_tag('events', 'v1.0')
  * }}}
  *
  * Table arguments are identifiers relative to the catalog's warehouse
  * root (same resolution as `lake.events`, dots as path separators).
  */
object GraftProcedures {

  private def param(n: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(n, dt).build()

  private def utf(v: Any): String = v.asInstanceOf[UTF8String].toString

  private def session: SparkSession = SparkSession.active

  /** One-result-set procedure: fixed output schema, driver-side body. */
  private abstract class P(override val name: String,
      params: Seq[ProcedureParameter], out: StructType)
    extends UnboundProcedure with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false // reads/moves FS state
    protected def run(input: InternalRow): Seq[InternalRow]
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val result = run(input).toArray
      java.util.Collections.singletonList(new LocalScan {
        override def rows(): Array[InternalRow] = result
        override def readSchema(): StructType = out
      }: Scan).iterator()
    }
  }

  def all(rootOf: String => String): Map[String, UnboundProcedure] = Map(
    "history" -> new P("history", Seq(param("table", StringType)),
      // `op` appended LAST (the positional-consumer rule): the commit's
      // #op: marker when it declared one — compact/cluster/fold show
      // as themselves, data commits as null (Delta DESCRIBE HISTORY's
      // operation column, from the same commit-time record)
      StructType(Seq(StructField("version", IntegerType),
        StructField("commit_ms", LongType), StructField("kind", StringType),
        StructField("n_dirs", IntegerType),
        StructField("added", IntegerType),
        StructField("removed", IntegerType),
        StructField("op", StringType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] =
        Manifest.history(session, rootOf(utf(in.get(0, StringType))))
          .map(h => new GenericInternalRow(Array[Any](h.version,
            h.commitMs, UTF8String.fromString(h.kind), h.nDirs,
            h.added.size, h.removed.size,
            h.op.map(UTF8String.fromString).orNull)))
    },
    "expire" -> new P("expire",
      Seq(param("table", StringType), param("keep_last", IntegerType)),
      StructType(Seq(StructField("reclaimed_version", IntegerType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] =
        Manifest.expire(session, rootOf(utf(in.get(0, StringType))),
            in.getInt(1))
          .map(v => new GenericInternalRow(Array[Any](v)))
    },
    // optional SCOPE (`where_col`/`lo`/`hi`, all-or-none): Delta
    // `OPTIMIZE … WHERE` — only the directories whose sidecar stats
    // overlap [lo, hi] on the column rewrite (plus statless ones,
    // conservatively), committed via the conflict-detecting PARTIAL
    // replace so untouched directories carry verbatim and racing
    // appends survive. The maintenance shape a 100 TB table actually
    // runs: compact yesterday's partition, never the table. Returns
    // no rows when fewer than two directories match (nothing to gain,
    // no version burned).
    "compact" -> new P("compact", Seq(param("table", StringType),
      ProcedureParameter.in("where_col", StringType)
        .defaultValue("CAST(NULL AS STRING)").build(),
      ProcedureParameter.in("lo", StringType)
        .defaultValue("CAST(NULL AS STRING)").build(),
      ProcedureParameter.in("hi", StringType)
        .defaultValue("CAST(NULL AS STRING)").build()),
      StructType(Seq(StructField("version", IntegerType),
        StructField("files_before", IntegerType),
        StructField("files_after", IntegerType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        val s = session
        val scoped = !in.isNullAt(1)
        if (!scoped) {
          val before = Manifest.snapshot(s, root).inputFiles.length
          val dest = s"$root/data/compact-v${Manifest.versions(s, root)
            .last + 1}"
          val v = IndexCompaction.compact(s, root, dest)
          val after = Manifest.snapshot(s, root).inputFiles.length
          Seq(new GenericInternalRow(Array[Any](v, before, after)))
        } else {
          require(!in.isNullAt(2) && !in.isNullAt(3),
            "scoped compact needs where_col, lo AND hi")
          val l2p = graft.io.ColumnMapping.renames(
            graft.io.ColumnMapping.mapping(s, root)).map(_.swap)
          val c0 = utf(in.get(1, StringType))
          val range = graft.io.SkipStats.ColRange(
            l2p.getOrElse(c0, c0),
            utf(in.get(2, StringType)), utf(in.get(3, StringType)))
          val dest = s"$root/data/compact-v${Manifest.versions(s, root)
            .last + 1}-" + java.util.UUID.randomUUID().toString
          val before = Manifest.snapshot(s, root).inputFiles.length
          IndexCompaction.compactWhere(s, root, dest, Seq(range))
            .map { v =>
              val after = Manifest.snapshot(s, root).inputFiles.length
              new GenericInternalRow(Array[Any](v, before, after))
                : InternalRow
            }.toSeq
        }
      }
    },
    "fold" -> new P("fold",
      Seq(param("table", StringType), param("key", StringType)),
      StructType(Seq(StructField("version", IntegerType),
        StructField("carried", IntegerType),
        StructField("rewritten", IntegerType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        MergeOnRead.fold(session, root, utf(in.get(1, StringType)),
            s"$root/data")
          .map(r => new GenericInternalRow(Array[Any](r.version,
            r.carried.size, r.rewritten.size)))
          .toSeq
      }
    },
    "tag" -> new P("tag",
      Seq(param("table", StringType), param("name", StringType),
        param("version", IntegerType)),
      StructType(Seq(StructField("tagged_version", IntegerType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        val v = in.getInt(2)
        Manifest.tag(session, root, utf(in.get(1, StringType)), v)
        Seq(new GenericInternalRow(Array[Any](v)))
      }
    },
    "set_mor_key" -> new P("set_mor_key",
      Seq(param("table", StringType), param("key", StringType)),
      StructType(Seq(StructField("key", StringType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val key = utf(in.get(1, StringType))
        GraftMorKey.set(session, rootOf(utf(in.get(0, StringType))), key)
        Seq(new GenericInternalRow(Array[Any](UTF8String.fromString(key))))
      }
    },
    // ── declared CHECK constraints (Delta ADD CONSTRAINT):
    // CALL lake.constrain(t, 'positive_cents', 'cents > 0') validates
    // the existing data then persists; every later write on every
    // path enforces it (graft.io.Landing, the step every new data
    // directory passes before its commit) ──
    "constrain" -> new P("constrain",
      Seq(param("table", StringType), param("name", StringType),
        param("expression", StringType)),
      StructType(Seq(StructField("name", StringType),
        StructField("expression", StringType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val (n, e) = (utf(in.get(1, StringType)),
          utf(in.get(2, StringType)))
        graft.io.Constraints.declare(session,
          rootOf(utf(in.get(0, StringType))), n, e)
        Seq(new GenericInternalRow(Array[Any](
          UTF8String.fromString(n), UTF8String.fromString(e))))
      }
    },
    "drop_constraint" -> new P("drop_constraint",
      Seq(param("table", StringType), param("name", StringType)),
      StructType(Seq(StructField("dropped", org.apache.spark.sql.types
        .BooleanType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] =
        Seq(new GenericInternalRow(Array[Any](
          graft.io.Constraints.drop(session,
            rootOf(utf(in.get(0, StringType))),
            utf(in.get(1, StringType))))))
    },
    "drop_mor_key" -> new P("drop_mor_key",
      Seq(param("table", StringType)),
      StructType(Seq(StructField("dropped", org.apache.spark.sql.types
        .BooleanType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] =
        Seq(new GenericInternalRow(Array[Any](
          GraftMorKey.drop(session, rootOf(utf(in.get(0, StringType)))))))
    },
    "drop_tag" -> new P("drop_tag",
      Seq(param("table", StringType), param("name", StringType)),
      StructType(Seq(StructField("dropped", org.apache.spark.sql.types
        .BooleanType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] =
        Seq(new GenericInternalRow(Array[Any](
          Manifest.dropTag(session, rootOf(utf(in.get(0, StringType))),
            utf(in.get(1, StringType))))))
    },
    // ── INDEX maintenance verbs: the t25/s14 incremental-index
    // lifecycle (compact fragments, fold stats, tombstone victims,
    // atomically re-publish the pin vector) as SQL CALLs, so an index
    // operator never needs the Scala API for routine maintenance ──
    "compact_index" -> new P("compact_index",
      Seq(param("table", StringType), param("stats_cols", StringType)),
      StructType(Seq(StructField("version", IntegerType),
        StructField("files_before", IntegerType),
        StructField("files_after", IntegerType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        val cols = utf(in.get(1, StringType)).split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        val s = session
        val before = Manifest.snapshot(s, root).inputFiles.length
        val dest = s"$root/data/compact-v${Manifest.versions(s, root)
          .last + 1}"
        val v = IndexCompaction.compact(s, root, dest, statsCols = cols)
        val after = Manifest.snapshot(s, root).inputFiles.length
        Seq(new GenericInternalRow(Array[Any](v, before, after)))
      }
    },
    // fold a distributive per-increment stats table (one numeric row
    // per ingest commit) into its single-row SUM equivalent — the
    // IndexCompaction.compactStats contract with the one fold a SQL
    // surface can promise is distributive: SUM over every numeric
    // column, non-numeric columns refused loudly
    "compact_stats" -> new P("compact_stats",
      Seq(param("table", StringType)),
      StructType(Seq(StructField("version", IntegerType),
        StructField("rows_before", LongType),
        StructField("rows_after", LongType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        val s = session
        val snap = Manifest.snapshot(s, root)
        snap.schema.foreach(f => require(
          f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"compact_stats folds SUMs: column '${f.name}' of " +
            s"${f.dataType.simpleString} is not distributive — use the " +
            "Scala IndexCompaction.compactStats with an explicit fold"))
        val before = snap.count()
        val dest = s"$root/data/statsfold-v${Manifest.versions(s, root)
          .last + 1}"
        val sums = snap.schema.fieldNames.map(c =>
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col(c)).as(c))
        val v = IndexCompaction.compactStats(s, root, dest)(
          _.agg(sums.head, sums.tail.toIndexedSeq: _*))
        val after = Manifest.snapshot(s, root).count()
        Seq(new GenericInternalRow(Array[Any](v, before, after)))
      }
    },
    // the atomic multi-table publish (io29/io31's pin discipline):
    // commit tables first, CALL pin last — readers resolving through
    // the catalog never see a half-published index
    "pin" -> new P("pin",
      Seq(param("catalog_table", StringType),
        param("tables", StringType)),
      StructType(Seq(StructField("catalog_version", IntegerType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val cRoot = rootOf(utf(in.get(0, StringType)))
        val roots = utf(in.get(1, StringType)).split(",")
          .map(_.trim).filter(_.nonEmpty).map(rootOf).toSeq
        require(roots.nonEmpty, "pin needs at least one table")
        Seq(new GenericInternalRow(Array[Any](
          graft.io.Catalog.pinLatest(session, cRoot, roots))))
      }
    },
    // takedown: ONE appending tombstone commit from an explicit victim
    // key list (the right-to-be-forgotten ticket shape) — work ∝ list
    // size, never a rewrite; fold later ends the deferral. Callers
    // scrubbing several derived tables CALL once per table with the
    // same list, then CALL pin.
    "takedown" -> new P("takedown",
      Seq(param("table", StringType), param("key", StringType),
        param("victims", StringType)),
      StructType(Seq(StructField("version", IntegerType),
        StructField("victims", IntegerType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        val key = utf(in.get(1, StringType))
        val vals = utf(in.get(2, StringType)).split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        require(vals.nonEmpty, "takedown needs at least one victim key")
        val s = session
        import s.implicits._
        val keyType = Manifest.snapshot(s, root).schema(key).dataType
        val keys = keyType match {
          case LongType | IntegerType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.ByteType =>
            vals.map(_.toLong).toDF(key)
              .select(org.apache.spark.sql.functions.col(key)
                .cast(keyType).as(key))
          case StringType => vals.toDF(key)
          case other => throw new IllegalArgumentException(
            s"takedown key '$key' must be integral or string, got $other")
        }
        val v = MergeOnRead.deleteKeys(s, root, key, keys, s"$root/data")
        Seq(new GenericInternalRow(Array[Any](
          v.getOrElse(Manifest.versions(s, root).last), vals.size)))
      }
    },
    // sidecar RETROFIT: write skip-stats and/or bloom sidecars onto
    // every committed data directory that lacks them — pruning for a
    // table ingested before the discipline (or by a foreign writer)
    // without rewriting a byte of data. Sidecars are metadata beside
    // the files; readers pick them up on their next plan. Cost: one
    // aggregation pass per uncovered directory — at 100 TB that is
    // the cheapest possible path to a prunable table.
    "sidecar" -> new P("sidecar",
      Seq(param("table", StringType), param("stats_cols", StringType),
        param("bloom_cols", StringType)),
      StructType(Seq(StructField("dir", StringType),
        StructField("stats_written", org.apache.spark.sql.types
          .BooleanType),
        StructField("bloom_written", org.apache.spark.sql.types
          .BooleanType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        def cols(i: Int) = Landing.csv(Some(utf(in.get(i, StringType))))
        require(cols(1).nonEmpty || cols(2).nonEmpty,
          "sidecar needs stats_cols and/or bloom_cols")
        val s = session
        // args are LOGICAL names; files (and sidecars) are physical
        val l2p = graft.io.ColumnMapping.renames(
          graft.io.ColumnMapping.mapping(s, root)).map(_.swap)
        def phys(cs: Seq[String]) = cs.map(c => l2p.getOrElse(c, c))
        val (statsCols, bloomCols) = (phys(cols(1)), phys(cols(2)))
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val rows = Manifest.committed(s, root)
          .filterNot(MergeOnRead.isTombstone)
          .filterNot(graft.io.ColumnMapping.isMapping)
          .map { d =>
            val wroteStats = statsCols.nonEmpty &&
              graft.io.SkipStats.read(f, d).isEmpty
            val wroteBloom = bloomCols.nonEmpty &&
              graft.io.BloomSidecar.read(f, d).isEmpty
            Landing.sidecars(s, d, (if (wroteStats) statsCols else Nil,
              if (wroteBloom) bloomCols else Nil))
            new GenericInternalRow(Array[Any](UTF8String.fromString(d),
              wroteStats, wroteBloom))
          }
        // the "stats commit": re-embed every directory's sidecars into
        // the manifest annotations, so plans return to O(1) metadata
        // reads instead of per-directory fallback probes
        if (rows.exists(r => r.getBoolean(1) || r.getBoolean(2)))
          Manifest.refreshAnnotations(s, root)
        rows
      }
    },
    // CLONE as a CALL — `shallow` is the O(1) dev/test fork (manifest
    // copy + registration on the source CHAIN, io27/io33 semantics:
    // the source refuses DROP/deep-expire while registered); `deep` is
    // the environment-promotion copy (data physically copied, zero
    // coupling — io36). version 0 = latest.
    "clone" -> new P("clone",
      Seq(param("table", StringType), param("target", StringType),
        param("mode", StringType), param("version", IntegerType)),
      StructType(Seq(StructField("target", StringType),
        StructField("version", IntegerType),
        StructField("mode", StringType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val src = rootOf(utf(in.get(0, StringType)))
        val dst = rootOf(utf(in.get(1, StringType)))
        val mode = utf(in.get(2, StringType)).toLowerCase
        val ver = Option(in.getInt(3)).filter(_ > 0)
        val s = session
        val v = mode match {
          case "shallow" => Manifest.shallowClone(s, src, dst, ver)
          case "deep" =>
            Manifest.deepClone(s, src, dst, s"$dst/data", ver)
          case other => throw new IllegalArgumentException(
            s"clone mode must be 'shallow' or 'deep', got '$other'")
        }
        Seq(new GenericInternalRow(Array[Any](
          UTF8String.fromString(dst), v, UTF8String.fromString(mode))))
      }
    },
    // orphan SWEEP as a CALL — directories landed but never committed
    // (crashed ingest, failed CTAS, abandoned rewrite) under the
    // table's staging root, older than grace_ms and referenced by NO
    // version (and no registered clone): deleted, one row per
    // reclaimed directory (io26's semantics).
    "sweep" -> new P("sweep",
      Seq(param("table", StringType), param("grace_ms", LongType)),
      StructType(Seq(StructField("dir", StringType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        val swept = Manifest.sweepAllOrphans(session, root,
          Seq(s"$root/data"), in.getLong(1))
        swept.map(d => new GenericInternalRow(
          Array[Any](UTF8String.fromString(d))))
      }
    },
    // ROLLBACK — the incident-runbook verb (Delta `RESTORE TABLE …
    // TO VERSION AS OF` / Iceberg rollback_to_snapshot): republish
    // version N's directory list as a NEW replacing commit. History
    // stays intact (the rolled-back-over versions still time-travel),
    // nothing is deleted (`expire` owns reclamation, unaffected),
    // clone/tag guards are untouched, and the next INSERT appends on
    // the restored head. Refuses while the CURRENT head carries MoR
    // tombstones that version N does not list — republishing N would
    // silently UN-delete those keys; fold (or takedown-fold) first.
    // `version` is optional when `timestamp_ms` names a wall-clock
    // instant instead (Delta `RESTORE … TIMESTAMP AS OF`): the restore
    // target is the latest version committed at or before it, by the
    // manifest-mtime rule `versionAt` already gives time travel.
    // Exactly one of the two must be passed.
    "rollback" -> new P("rollback",
      Seq(param("table", StringType),
        ProcedureParameter.in("version", IntegerType)
          .defaultValue("CAST(NULL AS INT)").build(),
        ProcedureParameter.in("timestamp_ms", LongType)
          .defaultValue("CAST(NULL AS BIGINT)").build()),
      StructType(Seq(StructField("restored_version", IntegerType),
        StructField("new_version", IntegerType),
        StructField("n_dirs", IntegerType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        val s = session
        require(in.isNullAt(1) != in.isNullAt(2),
          "rollback takes exactly one of version / timestamp_ms")
        val v =
          if (!in.isNullAt(1)) in.getInt(1)
          else Manifest.versionAt(s, root, in.getLong(2)).getOrElse(
            throw new IllegalArgumentException(
              s"no version of $root existed at ${in.getLong(2)} " +
                "(or it has been expired)"))
        val vs = Manifest.versions(s, root)
        require(vs.contains(v),
          s"cannot rollback to unknown version $v (have $vs — " +
            "expired versions are beyond the retention horizon)")
        val target = Manifest.entries(s, root, Some(v))
        val targetSet = target.toSet
        val laterTombs = Manifest.committed(s, root)
          .filter(MergeOnRead.isTombstone).filterNot(targetSet)
        require(laterTombs.isEmpty,
          s"cannot rollback $root to version $v: the current head " +
            s"carries ${laterTombs.size} tombstone commit(s) newer " +
            "than it — rolling back would silently un-delete their " +
            "keys. CALL fold first, then rollback.")
        val nv = Manifest.rollbackTo(s, root, v)
        Seq(new GenericInternalRow(Array[Any](v, nv, target.size)))
      }
    },
    // sorted RE-CLUSTERING — `OPTIMIZE … SORT BY` as one CALL: the
    // snapshot rewrites range-partitioned + sorted on the given
    // columns into `buckets` directories, each with a fresh skip-stats
    // sidecar, committed as ONE replacing version. After it, the sort
    // columns' per-directory ranges are DISJOINT, so any selective
    // probe on them plans ∝ matching buckets instead of ∝ table — the
    // layout maintenance that turns an append-order 100 TB table into
    // a prunable one. Data is layout-only preserved (the gate proves
    // census identity with the pre-cluster version); time travel keeps
    // the old layout; a tombstoned table refuses (fold first — a
    // rewrite must never resurrect deleted rows); sort columns are
    // LOGICAL names, translated for mapped tables.
    // `zorder => true` (optional, default false) re-layouts by the
    // MORTON INTERLEAVE of 2..8 sort columns instead of their
    // lexicographic order — Delta's `OPTIMIZE ZORDER BY`: each bucket
    // then has a TIGHT BOUNDING BOX in BOTH dimensions (a 1-D sort
    // gives tight ranges only on its leading column), so a 2-D box
    // probe AND either single-column probe all prune directories
    // through the ordinary min/max sidecars — no query-side changes,
    // the layout alone does it (io65). Bucketization is 256 quantile-
    // free bins per dimension from one min/max pass; the z value is
    // [[graft.io.ZOrder.zvalue8]]'s pure column arithmetic (codegen'd,
    // no UDF) and is DROPPED before the write — data is layout-only
    // preserved, like the 1-D path.
    "cluster" -> new P("cluster",
      Seq(param("table", StringType), param("sort_cols", StringType),
        param("buckets", IntegerType),
        ProcedureParameter.in("zorder",
          org.apache.spark.sql.types.BooleanType)
          .defaultValue("false").build()),
      StructType(Seq(StructField("dir", StringType),
        StructField("rows", LongType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        val s = session
        val sortCols = utf(in.get(1, StringType)).split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        val buckets = in.getInt(2)
        val zorder = !in.isNullAt(3) && in.getBoolean(3)
        require(sortCols.nonEmpty && buckets > 0,
          "cluster needs sort_cols and buckets > 0")
        require(!zorder || (sortCols.size >= 2 && sortCols.size <= 8),
          s"zorder clustering interleaves 2..8 sort_cols " +
            s"(N-D Morton, 8 bits each), got ${sortCols.size}")
        val entries = Manifest.entries(s, root)
        require(!entries.exists(MergeOnRead.isTombstone),
          s"$root carries live tombstones — fold before re-clustering")
        val l2p = graft.io.ColumnMapping.renames(
          graft.io.ColumnMapping.mapping(s, root)).map(_.swap)
        val phys = sortCols.map(c => l2p.getOrElse(c, c))
        val data = entries.filterNot(graft.io.ColumnMapping.isMapping)
        require(data.nonEmpty, s"$root has no data to cluster")
        import org.apache.spark.sql.functions.{col, spark_partition_id}
        val stage = s"$root/data/cluster-v${Manifest.versions(s, root)
          .last + 1}"
        // mergeSchema: a drift-evolved table's late columns live only in
        // newer directories — a layout-only rewrite must carry the UNION
        // schema, not whichever footer parquet happens to pick first
        val reader = graft.io.SchemaMemo.readMerged(s, data)
        val laidOut =
          if (!zorder)
            reader.repartitionByRange(buckets, phys.map(col): _*)
              .sortWithinPartitions(phys.map(col): _*)
          else {
            import org.apache.spark.sql.functions.{min, max, least,
              greatest, lit, unix_date, unix_micros,
              spark_partition_id => spid}
            import org.apache.spark.sql.types._
            // per-dimension AXIS: the monotone numeric each dimension
            // bucketizes on. Integral columns use themselves (long —
            // bit-identical to the integral-only rounds); dates map to
            // epoch days, timestamps to epoch micros (both long —
            // exactly the skip-stats normalization, so the probes that
            // prune post-cluster compare in the same space); decimals/
            // floats bucketize in double (bucketing only — the data is
            // untouched, so precision never affects rows). Strings
            // have no numeric axis — they get ntile-style RANGE IDS
            // below (Delta's z-order move), via Spark's own range
            // partitioner: bounded reservoir sampling, never a global
            // sort or a driver collect, one extra shuffle per string
            // dimension of this already-whole-table rewrite.
            def longAxis(c: String)
                : Option[org.apache.spark.sql.Column] =
              reader.schema(c).dataType match {
                case LongType | IntegerType | ShortType | ByteType =>
                  Some(col(c).cast("long"))
                case DateType => Some(unix_date(col(c)).cast("long"))
                case TimestampType => Some(unix_micros(col(c)))
                case _ => None
              }
            def dblAxis(c: String)
                : Option[org.apache.spark.sql.Column] =
              reader.schema(c).dataType match {
                case DoubleType | FloatType | _: DecimalType =>
                  Some(col(c).cast("double"))
                case _ => None
              }
            phys.foreach { c =>
              val dt = reader.schema(c).dataType
              require(longAxis(c).isDefined || dblAxis(c).isDefined ||
                  dt == StringType,
                s"zorder sort column $c must be integral, date, " +
                  s"timestamp, decimal, float/double, or string — " +
                  s"got $dt")
            }
            // string dims first: each range-partitions the working
            // frame by the column and tags rows with the 0..255 range
            // id (order-aligned with the column, nulls first = id 0)
            var working = reader
            val rangeId: Map[String, String] =
              phys.zipWithIndex.collect {
                case (c, j) if reader.schema(c).dataType == StringType =>
                  val idc = s"__gzd$j"
                  working = working.repartitionByRange(256, col(c))
                    .withColumn(idc, spid().cast("long"))
                  c -> idc
              }.toMap
            // numeric dims: 256-bin bucketization from ONE min/max pass
            val numDims = phys.filterNot(rangeId.contains)
            val bounds: Map[String, (Any, Any)] =
              if (numDims.isEmpty) Map.empty
              else {
                val aggs = numDims.flatMap { c =>
                  val a = longAxis(c).orElse(dblAxis(c)).get
                  Seq(min(a), max(a))
                }
                val b = working.agg(aggs.head, aggs.tail: _*).collect()(0)
                numDims.zipWithIndex.map { case (c, j) =>
                  require(!b.isNullAt(2 * j),
                    s"zorder needs a non-null sort column, $c is " +
                      "all-null")
                  c -> ((b.get(2 * j), b.get(2 * j + 1)))
                }.toMap
              }
            def bucket(c: String): org.apache.spark.sql.Column =
              rangeId.get(c) match {
                case Some(idc) => col(idc)
                case None if longAxis(c).isDefined =>
                  val (mn, mx) = (bounds(c)._1.asInstanceOf[Long],
                    bounds(c)._2.asInstanceOf[Long])
                  val span = math.max(mx - mn, 0L) + 1L
                  least(lit(255L), greatest(lit(0L),
                    ((longAxis(c).get.cast("double") - mn.toDouble) /
                      span.toDouble * 256.0).cast("long")))
                case None =>
                  val (mn, mx) = (bounds(c)._1.asInstanceOf[Double],
                    bounds(c)._2.asInstanceOf[Double])
                  val span = math.max(mx - mn, java.lang.Double.MIN_VALUE)
                  least(lit(255L), greatest(lit(0L),
                    ((dblAxis(c).get - mn) / span * 256.0)
                      .cast("long")))
              }
            val z = graft.io.ZOrder.zvalueN(phys.map(bucket))
            working.withColumn("__gz", z)
              .repartitionByRange(buckets, col("__gz"))
              .sortWithinPartitions(col("__gz"))
              .drop(("__gz" +: rangeId.values.toSeq): _*)
          }
        laidOut
          .withColumn("gbucket", spark_partition_id())
          .write.partitionBy("gbucket").parquet(stage)
        val f = new org.apache.hadoop.fs.Path(stage)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val newDirs = f.listStatus(new org.apache.hadoop.fs.Path(stage))
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("gbucket="))
          .map(_.getPath.toUri.getPath).sorted.toSeq
        require(newDirs.nonEmpty, "clustering produced no output")
        // the rewrite must not cost the table its existing pruning
        // discipline: the sort columns are explicit stats columns, on
        // top of the table's properties and what the replaced
        // directories carried (maintenance never leaves an unprunable
        // hole). One write made every bucket, so their statistics come
        // from one grouped aggregation over the buckets (an observation
        // has no groups)
        val landing = Landing.plan(s, root, sortCols,
          colMap = l2p.map(_.swap)).carrying(s, data)
        val seen = graft.io.SkipStats.rereadEach(s, newDirs,
          landing.observed(reader.schema))
        newDirs.foreach(d => Landing.prepare(s, landing, d, seen.get(d)))
        Manifest.replaceDirs(s, root, remove = data.toSet, add = newDirs,
          op = "cluster")
        newDirs.map { d =>
          val n = graft.io.SkipStats.readCount(f, d).getOrElse(-1L)
          new GenericInternalRow(Array[Any](UTF8String.fromString(d), n))
        }
      }
    },
    // layout introspection: one row per committed directory of the
    // LATEST version — kind, file count, bytes, and which columns carry
    // skip-stats sidecars (what the planner can prune on). The ops view
    // for "why isn't this query pruning" and "is it time to compact".
    "layout" -> new P("layout", Seq(param("table", StringType)),
      // `rows` appended LAST (not mid-schema): procedure result columns
      // only ever grow at the end, so positional consumers of earlier
      // releases keep reading the columns they bound
      StructType(Seq(StructField("dir", StringType),
        StructField("kind", StringType),
        StructField("files", IntegerType),
        StructField("bytes", LongType),
        StructField("stats_cols", StringType),
        StructField("rows", LongType)))) {
      override protected def run(in: InternalRow): Seq[InternalRow] = {
        val root = rootOf(utf(in.get(0, StringType)))
        val s = session
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        Manifest.entries(s, root).map { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val files =
            if (f.exists(p)) f.listStatus(p).filter(st =>
              st.isFile && st.getPath.getName.endsWith(".parquet"))
            else Array.empty[org.apache.hadoop.fs.FileStatus]
          val kind =
            if (MergeOnRead.isTombstone(d)) "tombstones" else "data"
          val statsCols = graft.io.SkipStats.read(f, d)
            .map(_.keySet.toSeq.sorted.mkString(",")).getOrElse("")
          // exact row count from the sidecar, METADATA-ONLY (the same
          // currency LIMIT pushdown banks); -1 = no sidecar, unknown
          val rows = graft.io.SkipStats.readCount(f, d).getOrElse(-1L)
          new GenericInternalRow(Array[Any](UTF8String.fromString(d),
            UTF8String.fromString(kind), files.length,
            files.map(_.getLen).sum,
            UTF8String.fromString(statsCols), rows))
        }
      }
    })
}
