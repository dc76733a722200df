package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration

/** Stops a Hadoop [[Configuration]] from recording which resource each
  * property came from, so that `Configuration.write` no longer gzips a
  * source list behind every key (see [[GraftExtensions]] for what that costs
  * and what is lost).
  *
  * The private `updatingResource` map is swapped for one whose `put` keeps
  * nothing. In hadoop-client-api 3.4.2 Hadoop writes that map only through
  * `put`, and assigns the field only in the copy constructor and on the lazy
  * first `put`, so the swap holds for the conf's lifetime, across the reload
  * that each `Configuration.addDefaultResource` triggers. Copies of the conf,
  * such as `SessionState.newHadoopConf`, start empty and record only the
  * keys set on them. Where the field is absent (another Hadoop), the conf
  * is left as it is.
  */
private[graft] object HadoopConfSources {

  private final class Discard extends ConcurrentHashMap[String, Array[String]] {
    override def put(key: String, sources: Array[String]): Array[String] = null
  }

  private val field =
    try {
      val f = classOf[Configuration].getDeclaredField("updatingResource")
      f.setAccessible(true)
      Some(f)
    } catch { case _: NoSuchFieldException => None }

  /** Drops `conf`'s recorded sources and records none from now on; a no-op
    * when already done. */
  def discard(conf: Configuration): Unit = field.foreach { f =>
    conf.synchronized {
      if (!f.get(conf).isInstanceOf[Discard]) f.set(conf, new Discard)
    }
  }
}
