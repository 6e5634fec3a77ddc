package graft.sketch.agg

import com.esotericsoftware.kryo.Kryo
import org.apache.spark.serializer.KryoRegistrator

/** Registers nothing: no graft aggregation buffer goes through Kryo any
  * more (every aggregate serializes its own canonical bytes). The class
  * stays so that sessions naming it in `spark.kryo.registrator` still start.
  */
class GraftKryoRegistrator extends KryoRegistrator {
  override def registerClasses(kryo: Kryo): Unit = ()
}
