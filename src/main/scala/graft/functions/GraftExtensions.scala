package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions installer for graft's native functions — the
  * standard plug-in path for a Spark library:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * It installs [[GraftFunctions.functions]], the same list
  * [[GraftFunctions.register]] installs, and the AQE rule
  * [[graft.SmallSortInOneTask]]. `graft.GraftSession.builder` installs
  * it, so a session built either way plans the same. Operators also
  * call `register` defensively, so the functions resolve on any
  * session; this class exists so a cluster admin can make `cosine_sim`
  * & co. available to plain `spark.sql(...)` users without any graft
  * code running first.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectQueryStagePrepRule(graft.SmallSortInOneTask(_))
  }
}
