package perfbench

import java.nio.file.{Files, Paths}

import org.json4s.{JArray, JString}
import org.json4s.jackson.JsonMethods

/** Every per-layer metric a traced run reports, on every workload, as
  * (name, unit, better), read from the `per_layer` list of BENCHMARK.json
  * at the repository root. A layer a workload leaves idle reports 0.
  * `spark.*` figures are per traced repetition and `db.*` per request
  * after a migration; `layers.json` says which end-to-end metric each one
  * should move. */
object Layers {
  lazy val all: Seq[(String, String, String)] =
    JsonMethods.parse(Files.readString(Paths.get("BENCHMARK.json"))) \ "per_layer" match {
      case JArray(xs) => xs.map { m =>
        def field(k: String) = m \ k match {
          case JString(v) => v
          case _ => throw new IllegalArgumentException(
            s"BENCHMARK.json per_layer: bad $k in $m")
        }
        (field("name"), field("unit"), field("better"))
      }
      case _ => throw new IllegalArgumentException("BENCHMARK.json has no per_layer list")
    }
}
