package graft.registry

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame

import graft.engine.Browser
import graft.model.CubeModel

/** One published registry state: name → (model, DataFrame), the workspace
  * info blob and the generation that published them. Immutable, so a
  * request that reads one snapshot sees one consistent registry however
  * many publishes land while it runs.
  */
final case class RegistrySnapshot(cubes: Map[String, (CubeModel, DataFrame)],
    infoJson: String, generation: Long) {

  def names: Seq[String] = cubes.keys.toSeq.sorted
  def browser(name: String): Browser = {
    val (m, df) = cubes.getOrElse(name,
      throw new NoSuchElementException(s"no such cube: $name"))
    new Browser(m, df)
  }

  /** `GET /cubes` (HOWTO.md:31-33). */
  def listJson: String =
    names.map(cubes(_)._1).map(m =>
      s"""{"name":"${m.name}","label":"${if (m.label.nonEmpty) m.label else m.name}"}""")
      .mkString("[", ",", "]")
}

/** The registry the server reads — the Spark-native stand-in for the
  * reference's workspace/model.json loading (slicer.ini:1-2, generated at
  * assets_generator.py:616-642). Institutional cubes are registered as
  * filter-views over their parent cube (semantics identical to the
  * reference's verbatim row copies, assets_generator.py:696).
  *
  * Its one mutable part is the reference to the current
  * [[RegistrySnapshot]]. Every write builds the next snapshot and publishes
  * it with one swap that bumps the generation once, so response caches
  * keyed on the generation self-invalidate across the rebuild-redeploy
  * reload cycle (the reference's update_olap.sh:12-16 restarts the server;
  * we swap the registry instead) without coordination.
  */
final class CubeRegistry {
  private val current = new AtomicReference(RegistrySnapshot(Map.empty, "{}", 0L))

  /** The current state; read it once per request. */
  def snapshot: RegistrySnapshot = current.get()
  def generation: Long = snapshot.generation
  def names: Seq[String] = snapshot.names
  def browser(name: String): Browser = snapshot.browser(name)

  /** Install `f(current)` as the next generation; returns the replaced
    * snapshot. `f` may run more than once under contention: keep it pure.
    */
  private def publish(f: RegistrySnapshot => RegistrySnapshot): RegistrySnapshot =
    current.getAndUpdate(s => f(s).copy(generation = s.generation + 1))

  def register(model: CubeModel, df: DataFrame, cache: Boolean = false): Unit = {
    val d = if (cache) df.cache() else df
    publish(s => s.copy(cubes = s.cubes + (model.name -> (model, d)))): Unit
  }

  /** Publish `cubes` as the whole cube set in one swap, then unpersist the
    * replaced set's frames, then mark the `cache = true` frames for
    * caching. That order matters: Spark's CacheManager matches cached
    * plans by `sameResult`, so a fresh read of a rewritten parquet path
    * shares the old frame's cache entry, and unpersisting the old frame
    * after caching the new one would uncache the new set too. Unpersist
    * on a never-cached frame (an institutional view) is a no-op.
    */
  def replaceAll(cubes: Seq[(CubeModel, DataFrame, Boolean)]): Unit = {
    val old = publish(_.copy(cubes = cubes.map { case (m, df, _) => m.name -> (m, df) }.toMap))
    old.cubes.values.foreach { case (_, df) => df.unpersist(blocking = false) }
    cubes.foreach { case (_, df, cache) => if (cache) df.cache() }
  }

  def unregisterAll(): Unit = replaceAll(Nil)

  /** The workspace metadata blob the cubes server exposes at `GET /info`
    * (slicer.ini:11 `info_file: info.json`) — served verbatim; `{}` until
    * an instance registers one.
    */
  def setInfo(json: String): Unit = publish(_.copy(infoJson = json)): Unit
}
