package graft

/** Typed reads of environment values. A malformed value fails at startup
  * with an `IllegalArgumentException` naming the variable and the value,
  * instead of a bare `NumberFormatException` once Spark work is under way.
  */
object Env {

  def long(env: Map[String, String], name: String): Option[Long] =
    parse(env, name)(_.toLongOption)

  def int(env: Map[String, String], name: String): Option[Int] =
    parse(env, name)(_.toIntOption)

  private def parse[T](env: Map[String, String], name: String)(p: String => Option[T]): Option[T] =
    env.get(name).map { v =>
      p(v.trim).getOrElse(throw new IllegalArgumentException(s"$name must be an integer, got '$v'"))
    }
}
