package org.apache.spark

/** Runs `body` with `spark.driver.maxResultSize` set to `bytes` on the
  * live context, then puts the old value back. The scheduler reads the
  * limit for each new task set, so jobs started inside `body` are held to
  * it. The context's conf is private to Spark; this accessor lives in
  * Spark's package for that reason only. */
object DriverResultLimit {
  private val Key = "spark.driver.maxResultSize"

  def apply[T](sc: SparkContext, bytes: Long)(body: => T): T = {
    val old = sc.conf.getOption(Key)
    sc.conf.set(Key, bytes.toString)
    try body
    finally old match {
      case Some(v) => sc.conf.set(Key, v)
      case None => sc.conf.remove(Key)
    }
  }
}
