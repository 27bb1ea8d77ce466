package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The engine's one store of session artifacts: resolved tables, trained
  * models, checkpointed frames, layout-table names, postings. At 100 TB
  * these are the difference between "a pipeline" and "every query re-runs
  * the upstream".
  *
  * Key: `(SparkSession, dir, name)` — one entry per artifact name per data
  * dir per session. Names carry their parameters (`"kmeans8"`,
  * `"bpe40"`); the same name under two dirs is two entries.
  *
  * Once-only: concurrent first callers of one key (Verify runs queries
  * 4-way) block on that key's holder only, and exactly one of them builds.
  * The map's `computeIfAbsent` only inserts the empty holder; the build
  * runs outside the map's lock, so a builder may read other artifacts
  * (nested `get`s are legal). A builder must not read its own key, and two
  * builders must not read each other's.
  *
  * Failure: a builder that throws leaves its entry unbuilt, and the next
  * `get` of that key builds again. The holder keeps no builder: each `get`
  * passes its own, so a built entry pins only its value, never the
  * upstream frames a builder captured.
  *
  * Sweep: entries of stopped sessions are removed before a new entry is
  * inserted, so a process that cycles sessions (test suites, notebook
  * restarts) does not pin a dead session's artifacts for the JVM's life.
  *
  * Ledger: every build is charged to its artifact name — a build count and
  * wall ms per name ([[charges]]), summed over dirs and sessions. The ms
  * are inclusive: a builder that reads another artifact for the first time
  * is charged that artifact's build too (which is also charged to its own
  * name). `graft.Bench` diffs the ledger around each query. */
object Artifacts {
  /** Builds of one artifact name: how many, and their wall ms. */
  final case class Charge(builds: Long, ms: Double) {
    def -(o: Charge): Charge = Charge(builds - o.builds, ms - o.ms)
  }

  private final case class Key(spark: SparkSession, dir: String, name: String)

  /** One key's once-only holder. `built` flips after `value` is set. */
  private final class Slot {
    @volatile var value: Any = _
    @volatile var built = false
  }

  private val slots = new ConcurrentHashMap[Key, Slot]()
  private val ledger = new ConcurrentHashMap[String, Charge]()

  /** The artifact `name` of `t`'s session and dir, built by `build` on
    * first use. */
  def get[V](t: Tables, name: String)(build: => V): V =
    get(t.spark, t.dir, name)(build)

  /** [[get]] by session and dir, for the one artifact that is the Tables
    * itself ([[Tables.forPath]]). */
  private[graft] def get[V](spark: SparkSession, dir: String, name: String)(build: => V): V = {
    val key = Key(spark, dir, name)
    val slot = Option(slots.get(key)).getOrElse {
      sweep(_.sparkContext.isStopped)
      slots.computeIfAbsent(key, _ => new Slot)
    }
    if (!slot.built) slot.synchronized {
      if (!slot.built) {
        val t0 = System.nanoTime()
        try slot.value = build
        finally ledger.merge(name, Charge(1, (System.nanoTime() - t0) / 1e6),
          (a, b) => Charge(a.builds + b.builds, a.ms + b.ms))
        slot.built = true
      }
    }
    slot.value.asInstanceOf[V]
  }

  /** Evict one artifact, returning its value (if it was built) so the
    * caller can release what it pins — unpersist a cached frame, drop a
    * checkpoint. The next [[get]] builds afresh. */
  def forget[V](t: Tables, name: String): Option[V] =
    Option(slots.remove(Key(t.spark, t.dir, name)))
      .filter(_.built).map(_.value.asInstanceOf[V])

  /** Whether the artifact has been built in this session — a SPEC probe
    * ("did this run train a model?"). False while a build is running. */
  def built(t: Tables, name: String): Boolean =
    Option(slots.get(Key(t.spark, t.dir, name))).exists(_.built)

  /** Builds so far in this JVM, per artifact name. */
  def charges: Map[String, Charge] = {
    val b = Map.newBuilder[String, Charge]
    ledger.forEach((k, v) => b += k -> v)
    b.result()
  }

  /** Remove every entry whose session is `stopped`. */
  private[graft] def sweep(stopped: SparkSession => Boolean): Unit =
    slots.keySet.removeIf(k => stopped(k.spark))
}
