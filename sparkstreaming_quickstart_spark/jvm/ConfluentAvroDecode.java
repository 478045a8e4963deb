package ssq;

import java.io.EOFException;
import java.io.IOException;
import java.nio.ByteBuffer;
import java.util.HashMap;
import java.util.Map;
import java.util.TreeMap;

import org.apache.avro.AvroRuntimeException;
import org.apache.avro.Schema;
import org.apache.avro.generic.GenericDatumReader;
import org.apache.avro.generic.GenericEnumSymbol;
import org.apache.avro.generic.GenericFixed;
import org.apache.avro.generic.GenericRecord;
import org.apache.avro.io.DecoderFactory;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.BinaryType;
import org.apache.spark.sql.types.BooleanType;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.DoubleType;
import org.apache.spark.sql.types.FloatType;
import org.apache.spark.sql.types.IntegerType;
import org.apache.spark.sql.types.LongType;
import org.apache.spark.sql.types.StringType;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

/**
 * Confluent-wire Avro decode of one binary {@code value}: magic byte 0, a
 * big-endian 4-byte schema id, then the Avro binary body written under that
 * id's schema.  The result is a row of {@code schema_id} followed by the
 * reader columns, each taken by name from the decoded record: a field the
 * writer lacks is null, a writer field the reader lacks is dropped, and
 * Avro's numeric promotions (int to long/float/double, long to
 * float/double, float to double) widen a value to its reader column.  A null
 * value (a Kafka tombstone) decodes to a null row.  Malformed input throws
 * an IllegalArgumentException naming the cause.
 */
public final class ConfluentAvroDecode implements UDF1<byte[], Row> {
  private final TreeMap<Integer, String> writerSchemas;
  private final String[] names;
  private final DataType[] types;
  /** Per schema id, built on first use in each deserialized copy. */
  private transient Map<Integer, Writer> writers;

  /** One writer schema: its datum reader and, per reader column, the
   *  writer field position (-1 where the writer lacks the field, or for
   *  every column when the writer schema is not a record). */
  private static final class Writer {
    final GenericDatumReader<Object> reader;
    final int[] positions;

    Writer(Schema schema, String[] names) {
      reader = new GenericDatumReader<>(schema);
      positions = new int[names.length];
      for (int i = 0; i < names.length; i++) {
        Schema.Field f = schema.getType() == Schema.Type.RECORD ? schema.getField(names[i]) : null;
        positions[i] = f == null ? -1 : f.pos();
      }
    }
  }

  private ConfluentAvroDecode(Map<Integer, String> writerSchemas, StructType readerColumns) {
    this.writerSchemas = new TreeMap<>(writerSchemas);
    this.names = readerColumns.fieldNames();
    this.types = new DataType[names.length];
    for (int i = 0; i < names.length; i++) {
      types[i] = readerColumns.fields()[i].dataType();
    }
  }

  /** The decode of {@code value} as a struct column: {@code schema_id}
   *  int, then the columns of {@code reader}, a StructType as JSON. */
  public static Column column(Column value, Map<Integer, String> writerSchemas, String reader) {
    StructType columns = (StructType) DataType.fromJson(reader);
    StructType out = new StructType().add("schema_id", DataTypes.IntegerType);
    for (StructField f : columns.fields()) {
      out = out.add(f);
    }
    return functions.udf(new ConfluentAvroDecode(writerSchemas, columns), out)
        .withName("confluent_avro_decode")
        .apply(value);
  }

  @Override
  public Row call(byte[] buf) {
    if (buf == null) {
      return null;
    }
    if (buf.length < 5) {
      throw new IllegalArgumentException("not Confluent wire format (" + buf.length + " bytes, shorter than the 5-byte header)");
    }
    if (buf[0] != 0) {
      throw new IllegalArgumentException("not Confluent wire format (bad magic byte)");
    }
    int id = ByteBuffer.wrap(buf, 1, 4).getInt();
    Writer writer = writer(id);
    Object datum;
    try {
      datum = writer.reader.read(null, DecoderFactory.get().binaryDecoder(buf, 5, buf.length - 5, null));
    } catch (EOFException e) {
      throw new IllegalArgumentException("truncated Avro data: the body ends inside a value (" + buf.length + " bytes)");
    } catch (IndexOutOfBoundsException e) {
      // Avro's reader indexes its branch and symbol arrays with the decoded
      // union branch or enum index unchecked.
      throw new IllegalArgumentException("union branch or enum index outside the schema (" + e.getMessage() + ")");
    } catch (AvroRuntimeException | IOException e) {
      throw new IllegalArgumentException("malformed Avro data under schema id " + id + ": " + e);
    }
    Object[] row = new Object[names.length + 1];
    row[0] = id;
    if (datum instanceof GenericRecord) {
      GenericRecord rec = (GenericRecord) datum;
      for (int i = 0; i < names.length; i++) {
        int pos = writer.positions[i];
        row[i + 1] = pos < 0 ? null : readerValue(rec.get(pos), i);
      }
    }
    return RowFactory.create(row);
  }

  private Writer writer(int id) {
    if (writers == null) {
      writers = new HashMap<>();
    }
    Writer w = writers.get(id);
    if (w == null) {
      String json = writerSchemas.get(id);
      if (json == null) {
        throw new IllegalArgumentException("schema id " + Integer.toUnsignedString(id)
            + " not in the resolved registry map (ids " + writerSchemas.keySet() + ")");
      }
      w = new Writer(new Schema.Parser().parse(json), names);
      writers.put(id, w);
    }
    return w;
  }

  /** A decoded field value as reader column {@code i}'s Java type. */
  private Object readerValue(Object v, int i) {
    DataType t = types[i];
    if (v == null) {
      return null;
    }
    if (t instanceof StringType && (v instanceof CharSequence || v instanceof GenericEnumSymbol)) {
      return v.toString();
    }
    if (t instanceof LongType && (v instanceof Long || v instanceof Integer)) {
      return ((Number) v).longValue();
    }
    if (t instanceof DoubleType && (v instanceof Double || v instanceof Float || v instanceof Long || v instanceof Integer)) {
      return ((Number) v).doubleValue();
    }
    if (t instanceof FloatType && (v instanceof Float || v instanceof Long || v instanceof Integer)) {
      return ((Number) v).floatValue();
    }
    if ((t instanceof IntegerType && v instanceof Integer) || (t instanceof BooleanType && v instanceof Boolean)) {
      return v;
    }
    if (t instanceof BinaryType && v instanceof ByteBuffer) {
      ByteBuffer b = ((ByteBuffer) v).duplicate();
      byte[] out = new byte[b.remaining()];
      b.get(out);
      return out;
    }
    if (t instanceof BinaryType && v instanceof GenericFixed) {
      return ((GenericFixed) v).bytes();
    }
    throw new IllegalArgumentException(
        "field '" + names[i] + "': a writer " + v.getClass().getSimpleName() + " value cannot be read as "
            + t.simpleString());
  }
}
