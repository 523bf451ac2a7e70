package sparkgraft;

import static java.nio.charset.StandardCharsets.UTF_8;
import static org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY;
import static org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32;
import static org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.nio.file.StandardCopyOption;
import java.util.HashMap;
import java.util.Iterator;
import org.apache.hadoop.conf.Configuration;
import org.apache.parquet.conf.ParquetConfiguration;
import org.apache.parquet.conf.PlainParquetConfiguration;
import org.apache.parquet.hadoop.ParquetWriter;
import org.apache.parquet.hadoop.api.WriteSupport;
import org.apache.parquet.hadoop.metadata.CompressionCodecName;
import org.apache.parquet.io.LocalOutputFile;
import org.apache.parquet.io.api.Binary;
import org.apache.parquet.io.api.RecordConsumer;
import org.apache.parquet.schema.LogicalTypeAnnotation;
import org.apache.parquet.schema.MessageType;
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName;
import org.apache.parquet.schema.Types;
import org.apache.spark.TaskContext;
import org.apache.spark.api.java.function.VoidFunction;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.UnsafeRow;
import org.apache.spark.sql.classic.Dataset;
import org.apache.spark.sql.execution.SQLExecution;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;
import scala.Option;

/**
 * The replica sink's task loop: one Spark job per micro-batch (a static
 * plan's one batch too) over the batch's own RDD of source envelope rows. Each task walks each row's value
 * ({@link GraftWalk}), rewrites the rows the walker vouches for and writes
 * them as {@code <dir>/part-<partition>.parquet}; it spills the rows the
 * walker declines, as source envelopes, to
 * {@code <spill>/part-<partition>.parquet} for the full path (so the spill
 * dir exists only if a row was declined). {@link #append} writes the full
 * path's output rows through the same writer, so every file of a batch has
 * the one physical schema {@link #TARGET}, and routes the rows it
 * classified to the dead-letter sink as {@link #DEAD} files.
 *
 * <p>Each file is written under a hidden task-attempt name and renamed into
 * place when its task succeeds, so a retried attempt replaces it. There is
 * no other commit protocol: the caller clears the batch dir before the job
 * and commits the batch by its marker after every job has succeeded.
 * Files are written through java.nio ({@link LocalOutputFile}), as the
 * caller writes its markers; a cluster deployment replaces both with a
 * Hadoop {@code OutputFile} on the shared file system.
 */
public final class GraftSink {
  private GraftSink() {}

  /**
   * The target envelope: key, value and topic required and without
   * statistics (unique per record, and sharing the frame's first bytes,
   * so min/max would compare every value); timestamp as the source
   * topic's own INT64 microseconds since the epoch, UTC.
   */
  static final MessageType TARGET = Types.buildMessage()
      .required(BINARY).named("key")
      .required(BINARY).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("topic")
      .optional(INT32).named("partition")
      .optional(INT64).named("offset")
      .optional(INT64).as(micros()).named("timestamp")
      .named("spark_schema");

  /**
   * A dead letter: the target envelope with the error class, and no key or
   * value (the full path could not build them).
   */
  static final MessageType DEAD = Types.buildMessage()
      .optional(BINARY).named("key")
      .optional(BINARY).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("topic")
      .optional(INT32).named("partition")
      .optional(INT64).named("offset")
      .optional(INT64).as(micros()).named("timestamp")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("error")
      .named("spark_schema");

  /** A declined row's source envelope, spilled for the full path. */
  static final MessageType DECLINED = Types.buildMessage()
      .optional(BINARY).named("value")
      .optional(INT32).named("partition")
      .optional(INT64).named("offset")
      .optional(INT64).as(micros()).named("timestamp")
      .named("spark_schema");

  static final String[] UNSTATED = {"key", "value", "topic"};

  private static LogicalTypeAnnotation micros() {
    return LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS);
  }

  /**
   * The target key of a vouched row: {@code frame} followed by the id's
   * span ({@code start << 32 | end}, as {@link GraftWalk#walk} returns it) of
   * {@code value}.
   */
  static byte[] key(byte[] frame, byte[] value, long span) {
    int start = (int) (span >>> 32);
    int end = (int) span;
    byte[] key = new byte[frame.length + end - start];
    System.arraycopy(frame, 0, key, 0, frame.length);
    System.arraycopy(value, start, key, frame.length, end - start);
    return key;
  }

  /**
   * Replaces the schema id of the framed {@code value} (bytes 1-4) in
   * place by its target; {@code targets} is {@code [source:int32][target:int32]}
   * pairs. The walker vouches only for ids that have a pair.
   */
  static void retarget(byte[] value, byte[] targets) {
    for (int at = 0; at < targets.length; at += 8) {
      if (targets[at] == value[1] && targets[at + 1] == value[2]
          && targets[at + 2] == value[3] && targets[at + 3] == value[4]) {
        System.arraycopy(targets, at + 4, value, 1, 4);
        return;
      }
    }
  }

  /**
   * Rewrites and writes one batch of source envelope rows ({@code value,
   * partition, offset, timestamp}, by name) under {@code dir}, walking each
   * value by {@code program}, in one job; spills the declined rows to
   * {@code spill}.
   */
  public static void write(Dataset<Row> batch, String dir, String spill, byte[] program,
      byte[] keyFrame, byte[] targets, String topic) {
    batch.queryExecution().toRdd().toJavaRDD().foreachPartition(new Rewrite(dir, spill,
        program, keyFrame, targets, topic.getBytes(UTF_8),
        ordinals(batch.schema(), "value", "partition", "offset", "timestamp")));
  }

  /**
   * Writes the full path's output rows under {@code dir} as
   * {@code full-<partition>.parquet}, in one job. With a {@code dead} dir
   * (route mode: the rows carry an {@code error} column), a row with an
   * error class goes to {@code <dead>/full-<partition>.parquet} instead.
   * The job runs as its own SQL execution, so Spark's SQL status store
   * records the plan that built {@code rows}.
   */
  public static void append(Dataset<Row> rows, String dir, String dead) {
    StructType schema = rows.schema();
    int[] from = ordinals(schema, names(TARGET));
    int[] fromDead = dead == null ? null : ordinals(schema, names(DEAD));
    int error = dead == null ? -1 : schema.fieldIndex("error");
    SQLExecution.withNewExecutionId(rows.queryExecution(), Option.empty(), () -> {
      rows.queryExecution().toRdd().toJavaRDD().foreachPartition(
          (VoidFunction<Iterator<InternalRow>>) it -> {
            String part = "full-" + TaskContext.getPartitionId();
            try (File out = new File(Paths.get(dir), part, new Columns(TARGET, from, schema));
                File routed = dead == null ? null
                    : new File(Paths.get(dead), part, new Columns(DEAD, fromDead, schema))) {
              while (it.hasNext()) {
                InternalRow row = it.next();
                (error < 0 || row.isNullAt(error) ? out : routed).write(row);
              }
              out.commit();
              if (routed != null) {
                routed.commit();
              }
            }
          });
      return null;
    });
  }

  static String[] names(MessageType type) {
    return type.getFields().stream().map(f -> f.getName()).toArray(String[]::new);
  }

  static int[] ordinals(StructType schema, String... names) {
    int[] out = new int[names.length];
    for (int c = 0; c < names.length; c++) {
      out[c] = schema.fieldIndex(names[c]);
    }
    return out;
  }

  /** One task of {@link #write}. */
  static final class Rewrite implements VoidFunction<Iterator<InternalRow>> {
    final String dir;
    final String spill;
    final byte[] program;
    final byte[] keyFrame;
    final byte[] targets;
    final byte[] topic;
    final int[] source; // value, partition, offset, timestamp

    Rewrite(String dir, String spill, byte[] program, byte[] keyFrame, byte[] targets,
        byte[] topic, int[] source) {
      this.dir = dir;
      this.spill = spill;
      this.program = program;
      this.keyFrame = keyFrame;
      this.targets = targets;
      this.topic = topic;
      this.source = source;
    }

    @Override
    public void call(Iterator<InternalRow> rows) throws IOException {
      int partition = TaskContext.getPartitionId();
      // key, value and topic from the rewrite; the rest from the row
      Columns target = new Columns(TARGET,
          new int[] {-1, -1, -1, source[1], source[2], source[3]}, null);
      target.bytes[2] = topic;
      try (File out = new File(Paths.get(dir), "part-" + partition, target);
          File spilled = new File(Paths.get(spill), "part-" + partition,
              new Columns(DECLINED, source, null))) {
        while (rows.hasNext()) {
          InternalRow row = rows.next();
          byte[] value = row.isNullAt(source[0]) ? null : row.getBinary(source[0]);
          long at = GraftWalk.walk(value, program);
          if (at < 0) {
            spilled.write(row);
            continue;
          }
          if (!(row instanceof UnsafeRow)) {
            value = value.clone(); // an UnsafeRow's getBinary is a copy already
          }
          target.bytes[0] = key(keyFrame, value, at);
          retarget(value, targets);
          target.bytes[1] = value;
          out.write(row);
        }
        if (partition == 0) {
          out.open(); // a batch dir holds at least one file, as Spark's writer leaves it
        }
        out.commit();
        spilled.commit();
      }
    }
  }

  /**
   * One parquet file's columns: column {@code c} comes from the row's
   * ordinal {@code from[c]} or, where that is -1, from {@code bytes[c]}.
   */
  static final class Columns extends WriteSupport<InternalRow> {
    final MessageType schema;
    final int[] from;
    final byte[][] bytes;
    final String[] names;
    final PrimitiveTypeName[] types;
    final boolean[] utf8; // a string column of the source rows
    RecordConsumer out;

    Columns(MessageType schema, int[] from, StructType source) {
      this.schema = schema;
      this.from = from;
      int n = from.length;
      bytes = new byte[n][];
      names = new String[n];
      types = new PrimitiveTypeName[n];
      utf8 = new boolean[n];
      for (int c = 0; c < n; c++) {
        names[c] = schema.getFieldName(c);
        types[c] = schema.getType(c).asPrimitiveType().getPrimitiveTypeName();
        utf8[c] = source != null && from[c] >= 0
            && source.fields()[from[c]].dataType().equals(DataTypes.StringType);
      }
    }

    // both overloads: parquet-mr's default for a ParquetConfiguration
    // builds a Hadoop Configuration (its default resources) per file
    @Override
    public WriteContext init(Configuration conf) {
      return new WriteContext(schema, new HashMap<>());
    }

    @Override
    public WriteContext init(ParquetConfiguration conf) {
      return new WriteContext(schema, new HashMap<>());
    }

    @Override
    public void prepareForWrite(RecordConsumer recordConsumer) {
      out = recordConsumer;
    }

    @Override
    public void write(InternalRow row) {
      out.startMessage();
      for (int c = 0; c < from.length; c++) {
        int o = from[c];
        if (o >= 0 && row.isNullAt(o)) {
          continue;
        }
        out.startField(names[c], c);
        switch (types[c]) {
          case INT32:
            out.addInteger(row.getInt(o));
            break;
          case INT64:
            out.addLong(row.getLong(o));
            break;
          default:
            byte[] b = o < 0 ? bytes[c] : utf8[c] ? row.getUTF8String(o).getBytes() : row.getBinary(o);
            out.addBinary(Binary.fromConstantByteArray(b));
        }
        out.endField(names[c], c);
      }
      out.endMessage();
    }
  }

  /**
   * One task's parquet file {@code <dir>/<name>.parquet}: opened on its
   * first row under a hidden task-attempt name, renamed into place by
   * {@link #commit}; closing it uncommitted deletes it.
   */
  static final class File implements AutoCloseable {
    final Path tmp;
    final Path done;
    final Columns columns;
    ParquetWriter<InternalRow> writer;

    File(Path dir, String name, Columns columns) {
      done = dir.resolve(name + ".parquet");
      tmp = dir.resolve("." + name + "." + TaskContext.get().taskAttemptId() + ".tmp");
      this.columns = columns;
    }

    void write(InternalRow row) throws IOException {
      open();
      writer.write(row);
    }

    void open() throws IOException {
      if (writer != null) {
        return;
      }
      Files.createDirectories(tmp.getParent());
      Builder b = new Builder(new LocalOutputFile(tmp), columns)
          .withConf(new PlainParquetConfiguration())
          .withCompressionCodec(CompressionCodecName.SNAPPY)
          .withDictionaryEncoding(false);
      for (String c : UNSTATED) {
        if (columns.schema.containsField(c)) {
          b = b.withStatisticsEnabled(c, false).withSizeStatisticsEnabled(c, false);
        }
      }
      writer = b.build();
    }

    void commit() throws IOException {
      if (writer != null) {
        writer.close();
        writer = null;
        Files.move(tmp, done, StandardCopyOption.ATOMIC_MOVE);
      }
    }

    @Override
    public void close() throws IOException {
      if (writer != null) {
        try {
          writer.close();
        } finally {
          writer = null;
          Files.deleteIfExists(tmp);
        }
      }
    }
  }

  /** A parquet-mr writer of {@link Columns}, configured without Hadoop (see {@code init}). */
  static final class Builder extends ParquetWriter.Builder<InternalRow, Builder> {
    final Columns columns;

    Builder(LocalOutputFile file, Columns columns) {
      super(file);
      this.columns = columns;
    }

    @Override
    protected Builder self() {
      return this;
    }

    @Override
    protected WriteSupport<InternalRow> getWriteSupport(Configuration conf) {
      return columns;
    }

    @Override
    protected WriteSupport<InternalRow> getWriteSupport(ParquetConfiguration conf) {
      return columns;
    }
  }
}
