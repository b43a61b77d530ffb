package graft.sources

import scala.collection.mutable
import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import graft.operators.{Merge, Versioned}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{CachedLeaf, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** One table's state after an upload run: the current table, its full
  * revision history, the per-dataset bookkeeping, and the row-count check
  * grades — everything the reference persists across
  * `bde_ApplyLevel0Update` / `bde_ApplyLevel5Update` /
  * `_bde_RecordDatasetLoaded` / `_bde_CheckTableCount`.
  */
case class UploadedTable(
    current: DataFrame,
    versioned: DataFrame,
    bookkeeping: DataFrame,
    countChecks: DataFrame)

/** Persisted upload state a later run resumes from: the published current
  * table plus the name of the last dataset it reflects — the minimum the
  * reference keeps between runs (the live table + `bde_LastUploadStats`'s
  * last-dataset bookkeeping) so `GetLevel5Updates` (`BdeUpload.pm:653`)
  * can apply only datasets newer than the stored state.
  */
final case class UploadSeed(current: DataFrame, lastDataset: String)

/** Everything one apply knew, handed to registered post-load hooks — the
  * Spark-side seam for the reference's registered SQL functions
  * (`bde_ApplyPostLevel0Functions` / `bde_ApplyPostUploadFunctions` run
  * `bde_postlevel0_*` / `bde_postupload_*` per upload:
  * `sql/02-bde_control_functions.sql.in:2645,2661`, `BdeUpload.pm:819,590`).
  * `previous`/`incoming`/`actions` are None for the level-0 load (a fresh
  * snapshot has no delta); for level-5 applies they carry exactly the
  * inputs incremental view maintenance needs, so maintained artifacts
  * ([[graft.operators.Merge.incrementalAgg]] /
  * [[graft.operators.Merge.incrementalJoin]]) update in O(|changeset|)
  * without rescanning the table.
  */
final case class ApplyEvent(
    table: String,
    dataset: String,
    level: Int,
    previous: Option[DataFrame],
    incoming: Option[DataFrame],
    actions: Option[DataFrame],
    current: DataFrame)

/** The reference's top-level upload loop (`BdeUpload.pm:560 ApplyUpdates` →
  * `GetLevel0Updates`/`GetLevel5Updates` → per-dataset applies), composed
  * from graft's operators:
  *
  *  1. discover datasets in the filesystem repository ([[BdeRepository]]);
  *  2. for each configured table: load the newest level-0 that carries its
  *     files ([[BdeReader]] with the configured error policy);
  *  3. apply every later level-5 in name order — change keys from the
  *     `l5_change_table` file (parsed once per run and dataset, whatever
  *     the number of tables), each key classified against the current
  *     table ([[Merge.changesetDelta]]), `level5_is_full` tables re-diffed
  *     as snapshots ([[Merge.diffDelta]]);
  *  4. record bookkeeping per apply and grade row counts against the
  *     table's configured tolerances;
  *  5. record the versions each apply closed and opened, so the versioned
  *     store reconstructs any point in history.
  *
  * Each apply is recorded as it happens, as `table_version` and
  * `_bde_RecordDatasetLoaded` do in the reference: its classify join is
  * held as one small cached **delta leaf** — each announced key's action
  * with the row leaving the current table (D/U/X) and the row entering
  * from the incoming file (I/U/X). The next revision is
  * [[Versioned.advance]] over the delta; it carries an int `_ver_created`
  * column (1 for the start table or seed, `r` for rows entering at apply
  * `r`) that the frames handed to callers and hooks never show. After the
  * loop, `versioned` is [[Versioned.store]] over every delta's
  * [[Versioned.close]] and the final revision, and `bookkeeping` is
  * [[Merge.bookkeeping]] over each delta's action column: nothing is
  * re-stacked or classified a second time.
  *
  * Scale: a level-5 changeset touches only the keys it announces, as
  * `bde_ApplyLevel5Update` does. Before the loop, the start table (the
  * level-0 or the seed) is cached once with a `_touched` column: whether a
  * later dataset announces the row's key. The applies run on the touched
  * rows only (the slice), so an apply shuffles the slice and the announced
  * keys' rows, never the whole table, and a revision is the untouched
  * start rows plus the applied slice. A `level5_is_full` table (one
  * snapshot diff, which classifies every key) and a table with no later
  * dataset work on the whole table. The only driver-side values are
  * counts (bookkeeping metadata, as in the reference's event log).
  * The start, each applied slice and each delta are held as one cached
  * leaf each ([[org.apache.spark.sql.CachedLeaf]]), so the next apply's
  * plan starts at a leaf, not at the chain of applies before it, and
  * planning work per apply stays flat in the number of level-5 datasets K.
  * Each slice's cache is released once the next one is materialized and
  * the apply's hooks have run, so storage holds one copy of the table plus
  * at most two slices. What stays cached after a run, per table, is the
  * start, the final slice and K delta leaves, until the session's cache
  * is cleared (`spark.catalog.clearCache()`): `unpersist` on
  * [[UploadedTable]]'s frames does not release them. A hook that keeps an
  * [[ApplyEvent]]'s `previous` past its apply reads a released slice,
  * which recomputes from its lineage.
  */
object Upload {

  private def filesFor(ds: BdeRepository.Dataset, t: BdeTableDef): Seq[String] =
    ds.files.filter(f => Bde.fileStem(f).exists(t.files.contains))

  /** A post-load hook. Registration replaces the reference's
    * `bde_postlevel0_*` / `bde_postupload_*` function-name convention.
    */
  type PostApplyHook = ApplyEvent => Unit

  private val MetaFile = "_LAST_DATASET"

  /** Publish one table's post-run state through [[ManifestStore]] so a
    * later run can [[seedFrom]] it: the table parquet under `data/` plus a
    * tiny last-dataset marker, both inside the staged version directory —
    * neither is visible until the manifest rename commits. This is the
    * persistence the reference gets from PostgreSQL for free (the live
    * table survives between runs); on a lake store it is an explicit
    * publish, and the atomic pointer makes a crashed run invisible.
    */
  def publishState(table: DataFrame, lastDataset: String,
                   storeRoot: String): String = {
    val s = table.sparkSession
    ManifestStore.publishWith(s, storeRoot) { dir =>
      table.write.mode("overwrite").parquet(s"$dir/data")
      val fs = new Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val out = fs.create(new Path(dir, MetaFile), true)
      try out.write(s"$lastDataset\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Resolve the newest published state under `storeRoot` as an
    * [[UploadSeed]] — the read side of [[publishState]].
    */
  def seedFrom(s: SparkSession, storeRoot: String): UploadSeed = {
    val (_, dir) = ManifestStore.currentVersion(s, storeRoot).getOrElse(
      sys.error(s"Upload.seedFrom: nothing published under $storeRoot"))
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(dir, MetaFile))
    val last =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    UploadSeed(s.read.parquet(s"$dir/data"), last)
  }

  /** Run the upload loop for every data table in `tables` (the parsed
    * registry). Returns per-table results keyed by table name.
    *
    * Hook seams (each fired with the full [[ApplyEvent]]):
    *  - `postApply` — after EVERY apply (the level-0 load and each level-5
    *    changeset): the maintenance seam for incrementally-maintained
    *    artifacts;
    *  - `postLevel0` — after the level-0 load only (the reference's
    *    `bde_ApplyPostLevel0Functions`);
    *  - `postUpload` — once per table after its last apply (the reference's
    *    `bde_ApplyPostUploadFunctions`).
    *
    * `seeds` resumes a table from previously published state (the
    * reference's normal daily mode: level-5 updates against the PREVIOUSLY
    * UPLOADED table — `GetLevel5Updates`, `BdeUpload.pm:653`;
    * `bde_ApplyLevel5Update` reads the live table,
    * `sql/02-bde_control_functions.sql.in:1576`). A seeded table applies
    * only datasets newer than the seed's last dataset; a level-0 newer
    * than the seed supersedes it (the reference always prefers the newest
    * full snapshot). `l5_only` tables REQUIRE a seed — they have no
    * level-0 era to replay. The seed itself is not an apply of this run:
    * no hook fires for it and no bookkeeping row is recorded (run #1
    * already recorded its applies).
    */
  def run(spark: SparkSession, repoRoot: String, tables: Seq[BdeTableDef],
          policy: BdeErrorPolicy = BdeErrorPolicy(),
          postApply: Seq[PostApplyHook] = Nil,
          postLevel0: Seq[PostApplyHook] = Nil,
          postUpload: Seq[PostApplyHook] = Nil,
          seeds: Map[String, UploadSeed] = Map.empty): Map[String, UploadedTable] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val datasets = BdeRepository.datasets(repoRoot, conf)
    val changeDef = tables.find(_.levels.contains("C"))
    // a dataset's change table is shared by every table it announces keys
    // for: it is parsed once, on first use, cached as the small
    // (tablename, tablekeyvalue) frame each table filters, and read through
    // a leaf, so the plans that read it twice reuse one exchange over it
    val changeTables = mutable.Map.empty[String, Option[(DataFrame, DataFrame)]]
    def changeTable(ds: BdeRepository.Dataset): Option[DataFrame] =
      changeTables.getOrElseUpdate(ds.name, changeDef
        .map(filesFor(ds, _)).filter(_.nonEmpty)
        .map { fs =>
          val ct = BdeReader.read(spark, fs, None, policy)
            .select("tablename", "tablekeyvalue").cache()
          ct -> CachedLeaf.leaf(ct)
        }).map(_._2)
    try tables.filterNot(_.levels.contains("C"))
      .map(t => t.name -> runTable(spark, datasets, t, changeTable, policy,
        postApply, postLevel0, postUpload, seeds.get(t.name)))
      .toMap
    // every delta already holds its keys' rows: nothing returned reads these
    finally changeTables.values.flatten.foreach(_._1.unpersist())
  }

  /** Start-leaf column: whether a later dataset announces the row's key. */
  private val Touched = "_touched"

  private val ChecksSchema = StructType(Seq(
    StructField("check_name", StringType, false),
    StructField("expected_count", LongType, false),
    StructField("actual_count", LongType, false)))

  private def runTable(spark: SparkSession, datasets: Seq[BdeRepository.Dataset],
                       t: BdeTableDef,
                       changeTable: BdeRepository.Dataset => Option[DataFrame],
                       policy: BdeErrorPolicy,
                       postApply: Seq[PostApplyHook] = Nil,
                       postLevel0: Seq[PostApplyHook] = Nil,
                       postUpload: Seq[PostApplyHook] = Nil,
                       seed: Option[UploadSeed] = None): UploadedTable = {
    // a level-0 newer than the seed supersedes it — the reference always
    // loads the newest full snapshot when one exists (GetLevel0Updates
    // picks it before GetLevel5Updates runs, `BdeUpload.pm:612`)
    val l0opt =
      if (!t.levels.contains("0")) None
      else datasets
        .filter(d => d.level == 0 && filesFor(d, t).nonEmpty)
        .filter(d => seed.forall(_.lastDataset < d.name))
        .lastOption
    val (startCur, startDs, startLevel) = l0opt match {
      case Some(l0) =>
        (BdeReader.read(spark, filesFor(l0, t), None, policy), l0.name, 0)
      case None =>
        // an l5_only table has no level-0 to start from: the reference
        // errors ("no previous upload") unless prior state exists — here
        // that means a seed published by the previous run
        val sd = seed.getOrElse(throw new IllegalStateException(
          if (!t.levels.contains("0"))
            s"table ${t.name} is l5_only: incremental loads need a " +
              "previously uploaded table (publish the prior run's state " +
              "via Upload.publishState and pass it in seeds)"
          else s"no level-0 dataset carries files for table ${t.name}"))
        (sd.current, sd.lastDataset, 5)
    }
    var later5 = datasets.filter(d =>
      d.level == 5 && d.name > startDs && t.levels.contains("5") &&
        filesFor(d, t).nonEmpty)
    // level5_is_full tables treat each L5 file as a complete snapshot, so
    // only the newest matters (GetLevel5Updates keeps just the last)
    if (t.level5IsFull) later5 = later5.takeRight(1)

    val schema = startCur.schema
    val key = t.keyColumn.getOrElse(schema.fieldNames.head)
    val keyType = schema(key).dataType
    // the table's own columns: what callers, hooks and the reader see
    def data(rev: DataFrame): DataFrame = rev.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val later = later5.map(ds => ds -> BdeReader.read(spark, filesFor(ds, t), Some(schema), policy))
    // the keys a level-5 dataset announces for this table: its change
    // table's, or every key of its incoming file when it carries none
    // (with repeats: each consumer takes the distinct keys once)
    def announced(ds: BdeRepository.Dataset, incoming: DataFrame): DataFrame =
      changeTable(ds)
        .map(_.filter(col("tablename") === t.name).select(col("tablekeyvalue").as(key)))
        .getOrElse(incoming.select(col(key)))
        .select(col(key).cast(keyType).as(key))

    // the working revision carries the apply that opened each row. A
    // changeset touches only its announced keys, so the start is cached
    // once, flagged where a later dataset announces the row's key, and the
    // applies run on the touched rows (the slice); the untouched rows stay
    // in the start leaf. A full snapshot re-diffs every key: its applies
    // run on the whole table.
    val startIn = startCur.withColumn(Versioned.Created, lit(1))
    val (untouched, first, untouchedN, firstN) =
      if (t.level5IsFull || later.isEmpty) {
        val (start, n) = CachedLeaf(startIn)
        (None, start, 0L, n)
      } else {
        val touched = later.map((announced _).tupled).reduce(_ union _).distinct()
          .withColumn(Touched, lit(true))
        val flagged = startIn.join(broadcast(touched), Seq(key), "left")
          .select(startIn.columns.map(col).toIndexedSeq :+
            coalesce(col(Touched), lit(false)).as(Touched): _*)
          .cache()
        // one job materializes the start and counts both of its parts
        val n = flagged.groupBy(Touched).count().collect()
          .map(r => r.getBoolean(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
        val start = CachedLeaf.leaf(flagged)
        (Some(start.filter(!col(Touched)).drop(Touched)),
          start.filter(col(Touched)).drop(Touched), n(false), n(true))
      }
    // a whole revision: the untouched rows plus the applied slice
    def whole(rev: DataFrame): DataFrame = untouched.fold(rev)(_.unionByName(rev))
    // each cached revision is released once the next one is materialized;
    // the first slice reads the start leaf, which stays cached, so releasing
    // it frees nothing
    var revIn = if (untouched.isEmpty) startIn else first
    var rev = first
    val startN = untouchedN + firstN
    var before = startN
    val startCheck =
      if (startLevel == 0) s"${t.name}@$startDs" else s"${t.name}@seed:$startDs"
    val checks = ListBuffer(Row(startCheck, startN, startN))
    val deltas = ListBuffer.empty[(String, DataFrame)]

    var lastEvent = ApplyEvent(t.name, startDs, startLevel, None, None, None, data(whole(rev)))
    if (startLevel == 0) (postApply ++ postLevel0).foreach(_(lastEvent))

    later.foreach { case (ds, incoming) =>
      // both leaves end at a shuffle on the key, where the lineage a task
      // carries stops: a leaf whose last stage read the revision before it
      // directly would make every later task carry all revisions' plans
      // (1.4 MB per task at K = 4 without these two shuffles)
      val deltaIn = ((
        if (t.level5IsFull) Merge.diffDelta(rev, incoming, key)
        else Merge.changesetDelta(rev, incoming, announced(ds, incoming), key)
        ).repartition(col(key))).cache()
      val r = deltas.size + 2
      // one job materializes the delta and the next revision, so the
      // revision's shuffle runs beside the classify join
      val nextIn = Versioned.advance(rev.repartition(col(key)), deltaIn, key, r)
      val (next, nextN) = CachedLeaf(nextIn)
      val delta = CachedLeaf.leaf(deltaIn)
      deltas += ds.name -> delta
      val after = untouchedN + nextN
      checks += Row(s"${t.name}@${ds.name}", before, after)
      before = after
      lastEvent = ApplyEvent(t.name, ds.name, 5, Some(data(whole(rev))), Some(incoming),
        Some(delta.select(col(key), col(Merge.Action))), data(whole(next)))
      postApply.foreach(_(lastEvent))
      revIn.unpersist()
      revIn = nextIn
      rev = next
    }
    postUpload.foreach(_(lastEvent))
    // grade every apply's (expected=before, actual=after) pair at once
    val graded = Merge.rowCountChecks(
      spark.createDataFrame(checks.asJava, ChecksSchema),
      warnTol = t.rowTolWarning.getOrElse(1.0),
      errTol = t.rowTolError.getOrElse(1.0))
    // a fresh level-0 load is all inserts (the reference records it as
    // such); a seed's applies were recorded by the run that published it,
    // so a seeded run's bookkeeping starts empty (zero-row if nothing applies)
    def inserts(n: Long): DataFrame =
      Merge.bookkeeping(spark.range(n).select(lit("I").as(Merge.Action)), startDs, t.name)
    val books =
      (if (startLevel == 0) Seq(inserts(startN)) else Nil) ++
        deltas.map { case (ds, d) => Merge.bookkeeping(d.select(Merge.Action), ds, t.name) }
    val book = books.reduceOption(_ unionByName _).getOrElse(inserts(0))
    // history: every row an apply closed, then the rows still open
    val closed = deltas.zipWithIndex.map { case ((_, d), i) => Versioned.close(d, i + 2) }
    UploadedTable(data(whole(rev)), Versioned.store(closed.toSeq, whole(rev), key), book, graded)
  }
}
