package graft.transform

import graft.config.TaskConfig.Node
import graft.runner.TaskLog
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.VectorMap

/** SPI for user transform modules — the reference's Python-module transform
  * surface (/root/reference/dasladen/task.py:110-140) re-expressed as a
  * Scala trait loaded by reflection. Implementations must have a no-arg
  * constructor.
  */
trait TransformModule {
  def transform(df: DataFrame, fields: Seq[String], args: Map[String, String]): DataFrame
}

/** Shipped module: '' → null on given fields, else all string fields
  * (reference util/empty_as_null.py:4-17).
  */
class EmptyAsNull extends TransformModule {
  def transform(df: DataFrame, fields: Seq[String], args: Map[String, String]): DataFrame =
    Transforms.onStrings(df, fields)(c => when(c === "", lit(null)).otherwise(c))
}

/** Shipped module: control chars (codepoint < 32) → space on given or all
  * string fields (reference util/sanitize_string.py:4-17). Pure Column op.
  */
class SanitizeString extends TransformModule {
  def transform(df: DataFrame, fields: Seq[String], args: Map[String, String]): DataFrame =
    Transforms.onStrings(df, fields)(c => regexp_replace(c, "[\\x00-\\x1F]", " "))
}

/** The ordered transform block applied by every ETL task: module transforms
  * first, then convert → filter → remove → rename — order fixed by the
  * reference code, not config order (task.py:168-171 calling 142-166).
  *
  * Dispatch note: the reference crashes (KeyError) when a singular
  * `transform` node carries petl keys but NO module key, because
  * `_modules_transform` unconditionally reads `transform["module"]`
  * (task.py:119-120,127). We implement the evident intent
  * (README.md:21-22): the module transform runs when a module key is
  * present, and the petl sub-keys of the same node apply afterwards
  * either way (get_result order, task.py:168-171; SURVEY.md §2.3).
  */
object Transforms {

  /** Short names for shipped modules, mirroring the reference's
    * `module/empty_as_null.py` import-by-name convention.
    */
  val builtins: Map[String, () => TransformModule] = Map(
    "empty_as_null"   -> (() => new EmptyAsNull),
    "sanitize_string" -> (() => new SanitizeString))

  /** Resolve a module: shipped short name, launch classpath, or a jar
    * dropped into `workDir/module` ([[ModuleClasspath]] — the
    * reference's hot-import surface, task.py:129-130).
    */
  def loadModule(name: String, workDir: Option[String] = None): TransformModule =
    builtins.get(name).map(_.apply()).getOrElse {
      val cls = ModuleClasspath.classFor(name, workDir)
      cls.getDeclaredConstructor().newInstance().asInstanceOf[TransformModule]
    }

  /** Per-field rewrites as ONE projection, not a `withColumn` per step: a
    * field's steps compose in order, fields matched under the session's
    * case sensitivity (a replaced column takes the last step's spelling).
    */
  private[transform] def project(df: DataFrame, steps: Seq[(String, Column => Column)]): DataFrame = {
    val cs = df.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean
    val key = (f: String) => if (cs) f else f.toLowerCase(java.util.Locale.ROOT)
    val cols = steps.foldLeft(VectorMap.empty[String, (String, Column)]) { case (m, (f, step)) =>
      m.updated(key(f), f -> step(m.get(key(f)).fold(col(f))(_._2)))
    }
    if (cols.isEmpty) df else df.withColumns(VectorMap.from(cols.values))
  }

  /** `f` over `fields`, or over every string field when none are given. */
  private[transform] def onStrings(df: DataFrame, fields: Seq[String])(f: Column => Column): DataFrame =
    project(df, (if (fields.nonEmpty) fields
      else df.schema.fields.filter(_.dataType.typeName == "string").map(_.name).toSeq).map(_ -> f))

  def apply(df: DataFrame, task: Node, log: TaskLog,
            workDir: Option[String] = None): DataFrame = {
    val afterModules = applyModules(df, task, log, workDir)
    applyPetl(afterModules, task, workDir)
  }

  private def applyModules(df: DataFrame, task: Node, log: TaskLog,
                           workDir: Option[String]): DataFrame = {
    val nodes: Seq[Node] =
      if (task.has("transforms")) task.arr("transforms")
      else if (task.has("transform") && task("transform").has("module")) Seq(task("transform"))
      else Seq.empty
    nodes.foldLeft(df) { (d, t) =>
      val name = t.str("module")
      log.write(s"Transform data with $name")
      val fields = t.strArr("fields")
      val args = t.objMap("args").collect {
        case (k, org.json4s.JString(v)) => k -> v
        case (k, org.json4s.JInt(v))    => k -> v.toString
        case (k, org.json4s.JDouble(v)) => k -> v.toString
        case (k, org.json4s.JBool(v))   => k -> v.toString
      }
      loadModule(name, workDir).transform(d, fields, args)
    }
  }

  private def applyPetl(df: DataFrame, task: Node,
                        workDir: Option[String]): DataFrame = {
    // A singular transform node may carry BOTH a module key and petl keys:
    // the reference applies the module first, then the petl transforms
    // from the same node (get_result, task.py:168-171) — so no early
    // return on `module` here; applyModules already consumed that key.
    if (!task.has("transform")) return df
    val t = task("transform")
    var d = df
    // `psl`: a publicsuffix.org-format rule file (wildcards/exceptions
    // honored) that reroutes the domain-cut converts below — the task
    // DSL's route to the FULL published list; absent, the bundled
    // subset default applies. Resolved like every other task path:
    // absolute as-is, else under the work dir.
    val pslRules = t.strOpt("psl").map { p =>
      val resolved =
        if (java.nio.file.Paths.get(p).isAbsolute || workDir.isEmpty) p
        else s"${workDir.get}/$p"
      graft.ops.Web.loadPublicSuffixes(resolved)
    }
    // convert
    d = project(d, t.pairs("convert").map { case (field, spec) =>
      field -> ((c: Column) => ConvertRegistry.compile(c, spec, pslRules))
    })
    // filter (petl expression subset → Spark SQL predicate)
    t.strOpt("filter").foreach { f =>
      d = d.filter(expr(PetlExpr.compile(f)))
    }
    // remove
    val removes = t.strArr("remove")
    if (removes.nonEmpty) d = d.drop(removes: _*)
    // rename
    val renames = t.pairs("rename").collect {
      case (old, org.json4s.JString(n)) => old -> n
    }.toMap
    if (renames.nonEmpty) d = d.withColumnsRenamed(renames)
    d
  }
}
