package graft

import graft.core.{Engine, Registries}

/** Command-line entry point mirroring the reference's `__main__.py`:
  * `-c/--config <pipeline.yaml>` runs a pipeline, `-l/--list-modules` prints
  * the plugin registry (and ignores `--config`), `-f/--full-refresh` forces
  * the incremental initial value.
  */
object Cli {
  private[graft] case class Args(config: Option[String] = None, listModules: Boolean = false,
      fullRefresh: Boolean = false)

  /** Pure flag parsing (reference `__main__.py` argparse surface); unknown
    * flags and a missing `--config` (without `--list-modules`) raise — `main`
    * maps that to exit code 2 like argparse.
    */
  private[graft] def parse(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "-c" | "--config" =>
          if (i + 1 >= argv.length)
            throw new IllegalArgumentException("--config requires a value")
          a = a.copy(config = Some(argv(i + 1))); i += 2
        case "-l" | "--list-modules" => a = a.copy(listModules = true); i += 1
        case "-f" | "--full-refresh" => a = a.copy(fullRefresh = true); i += 1
        case other => throw new IllegalArgumentException(s"Unknown argument: $other")
      }
    }
    if (!a.listModules && a.config.isEmpty)
      throw new IllegalArgumentException("--config is required unless --list-modules")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args =
      try parse(argv)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"error: ${e.getMessage}"); sys.exit(2)
      }
    if (args.listModules) {
      println(Registries.listRegistered())
      return
    }
    val configPath = args.config.get
    val spark = Session()
    try new Engine(spark).runFile(configPath, args.fullRefresh)
    finally spark.stop()
  }
}
