package graft

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** `GraftExtensions` adds functions to a session; it must never replace
  * one of Spark's own. A replaced built-in silently changes what every
  * query naming it computes (a theta sketch built by Spark's
  * `theta_sketch_agg` cannot be read by another sketch family's
  * `theta_union`).
  */
class GraftExtensionsSpec extends SparkSpec {

  test("no function GraftExtensions injects shadows a Spark built-in") {
    val builtin = FunctionRegistry.builtin
    val shadowed = builtin.listFunction().flatMap { id =>
      val expected = builtin.lookupFunction(id).map(_.getClassName).orNull
      val quoted = "`" + id.funcName.replace("`", "``") + "`"
      val actual = spark.catalog.getFunction(quoted).className
      if (actual == expected) None else Some(s"${id.funcName}: $actual (built-in $expected)")
    }
    assert(builtin.listFunction().size > 100, "the built-in registry looks empty")
    assert(shadowed.isEmpty, shadowed.sorted.mkString("shadowed built-ins: ", ", ", ""))
  }
}
