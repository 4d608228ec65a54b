package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension point: `SparkSession.builder()
  * .withExtensions(new GraftExtensions)` (or config
  * `spark.sql.extensions=graft.plans.GraftExtensions`) registers the
  * engine's native expressions for SQL use on any session — the
  * deployment path for a shared cluster where users only write SQL.
  * Spark fills the root session's registry once; clones and child
  * sessions copy it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.Natives.descriptions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
  }
}
