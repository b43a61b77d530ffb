package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Filesystem dataset repository discovery — the reference's layout
  * (`lib/LINZ/BdeUpload.pm:612 GetLevel0Updates` / `:653 GetLevel5Updates`,
  * exercised in `t/linz_bde_uploader.t:482,1039`):
  *
  * {{{
  * <root>/level_0/<YYYYMMDDhhmmss>/<prefix>.crs[.gz]...
  * <root>/level_5/<YYYYMMDDhhmmss>/<prefix>.crs[.gz]...
  * }}}
  *
  * Discovery is a metadata operation (directory listing + one header read
  * per dataset for START/END), so it runs on the driver like any file
  * listing; the data itself is only ever read by [[BdeReader]] tasks. The
  * discovered frame feeds [[BdeScenarios.applyPlan]] — newest level-0,
  * later level-5s in name order, start-time continuity flagged
  * (`CheckStartDate`, `BdeUpload.pm:1070`).
  */
object BdeRepository {

  case class Dataset(name: String, level: Int, path: String, files: Seq[String])

  private val NameRe = "^[0-9]{14}$"

  /** Enumerate timestamp-named dataset directories under level_0/level_5. */
  def datasets(root: String,
               conf: Configuration = new Configuration()): Seq[Dataset] = {
    def list(level: Int): Seq[Dataset] = {
      val dir = new Path(s"$root/level_$level")
      val fs = dir.getFileSystem(conf)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir)
        .filter(st => st.isDirectory && st.getPath.getName.matches(NameRe))
        .map { st =>
          val files = fs.listStatus(st.getPath)
            .filter(_.isFile).map(_.getPath.toString)
            .filter(Bde.fileStem(_).isDefined)
            .sorted.toSeq
          Dataset(st.getPath.getName, level, st.getPath.toString, files)
        }.toSeq
    }
    (list(0) ++ list(5)).sortBy(_.name)
  }

  /** Config-declared file prefixes missing from a dataset
    * (`is_available_in_dataset`): drives the reference's
    * `require_all_dataset_files` completeness check.
    */
  def missingFiles(ds: Dataset, tables: Seq[BdeTableDef]): Seq[String] = {
    val present = ds.files.flatMap(Bde.fileStem).toSet
    val wantLevel = if (ds.level == 0) "0" else "5"
    tables
      .filter(t => t.levels.contains(wantLevel) || t.levels.contains("C"))
      .flatMap(_.files).distinct
      .filterNot(present.contains)
  }

  /** Discovered datasets as a DataFrame: (name, level, start_time,
    * end_time, n_files), START/END taken from each dataset's first file
    * header — the inputs [[BdeScenarios.applyPlan]] needs.
    */
  def datasetsDF(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = datasets(root, conf).map { d =>
      val (start, end) = d.files.headOption.map { f =>
        val h = BdeReader.header(f, conf)
        (h.start, h.end)
      }.getOrElse(("", ""))
      (d.name, d.level, start, end, d.files.length)
    }
    rows.toDF("name", "level", "start_raw", "end_raw", "n_files")
      .select(col("name"), col("level"),
        to_timestamp(col("start_raw")).as("start_time"),
        to_timestamp(col("end_raw")).as("end_time"),
        col("n_files"))
  }

  /** The apply plan for a repository: newest level-0 plus every later
    * level-5 in name order, continuity-flagged.
    */
  def applyPlanFrom(spark: SparkSession, root: String): DataFrame =
    BdeScenarios.applyPlan(datasetsDF(spark, root))
}
