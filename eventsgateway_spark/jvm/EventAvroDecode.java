package eventsgateway_spark.jvm;

import java.io.IOException;
import java.util.LinkedHashMap;
import java.util.Map;
import org.apache.avro.io.BinaryDecoder;
import org.apache.avro.io.DecoderFactory;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataType;

/** Avro binary decode of one Event record into the AVRO_EVENT_SCHEMA
 *  struct; props keep their wire order, and map blocks with a negative
 *  count (size-prefixed) are read as the spec says. */
public final class EventAvroDecode implements UDF1<byte[], Row> {
  /** This function as a Spark UDF (the UDF1 overload of
   *  functions.udf, chosen here at compile time). */
  public UserDefinedFunction toUdf(DataType returnType) {
    return functions.udf(this, returnType);
  }

  @Override
  public Row call(byte[] raw) throws IOException {
    if (raw == null) {
      return null;
    }
    BinaryDecoder dec = DecoderFactory.get().binaryDecoder(raw, null);
    String id = dec.readString();
    String name = dec.readString();
    Map<String, String> props = new LinkedHashMap<>();
    for (long n = dec.readMapStart(); n != 0; n = dec.mapNext()) {
      for (long i = 0; i < n; i++) {
        props.put(dec.readString(), dec.readString());
      }
    }
    return RowFactory.create(id, name, props, dec.readLong(), dec.readLong());
  }
}
