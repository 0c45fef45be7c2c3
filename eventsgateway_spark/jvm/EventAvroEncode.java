package eventsgateway_spark.jvm;

import java.io.ByteArrayOutputStream;
import java.io.IOException;
import org.apache.avro.io.BinaryEncoder;
import org.apache.avro.io.EncoderFactory;
import org.apache.spark.sql.api.java.UDF6;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataType;
import scala.collection.Seq;

/** Avro binary encode of one com.tfgco.eventsgateway.Event record
 *  (id, name, props, serverTimestamp, clientTimestamp). The props map
 *  arrives as its key and value arrays, which keep the map's entry
 *  order; a null map encodes as an empty one. */
public final class EventAvroEncode
    implements UDF6<String, String, Seq<String>, Seq<String>, Long, Long, byte[]> {
  /** This function as a Spark UDF (the UDF6 overload of
   *  functions.udf, chosen here at compile time). */
  public UserDefinedFunction toUdf(DataType returnType) {
    return functions.udf(this, returnType);
  }

  @Override
  public byte[] call(String id, String name, Seq<String> keys, Seq<String> values,
                     Long serverTs, Long clientTs) throws IOException {
    ByteArrayOutputStream out = new ByteArrayOutputStream(64);
    BinaryEncoder enc = EncoderFactory.get().directBinaryEncoder(out, null);
    enc.writeString(id);
    enc.writeString(name);
    int n = keys == null ? 0 : keys.length();
    enc.writeMapStart();
    enc.setItemCount(n);
    for (int i = 0; i < n; i++) {
      enc.startItem();
      enc.writeString(keys.apply(i));
      enc.writeString(values.apply(i));
    }
    enc.writeMapEnd();
    enc.writeLong(serverTs);
    enc.writeLong(clientTs);
    return out.toByteArray();
  }
}
