package eventstream_notify_spark.streaming;

import java.sql.Timestamp;
import java.time.Instant;
import java.util.ArrayList;
import java.util.Collections;
import java.util.Comparator;
import java.util.Iterator;
import java.util.List;

import org.apache.spark.api.java.function.FlatMapGroupsWithStateFunction;
import org.apache.spark.api.java.function.MapFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.streaming.GroupState;
import org.apache.spark.sql.streaming.GroupStateTimeout;
import org.apache.spark.sql.streaming.OutputMode;
import org.apache.spark.sql.types.StructType;

import scala.Tuple2;

/**
 * The first-event-anchored per-user rate limiter (INCR + EXPIRE-on-first):
 * a user's window opens at their first event, admits {@code limit} events,
 * and the first event at or past {@code windowUs} later opens the next.
 * State per user is (window start µs, admitted); the event-time timeout is
 * set at the window's end, so a user who never comes back is evicted once
 * the watermark passes it. Input rows are in {@code RATE_OUTPUT_SCHEMA}
 * column order (streaming/state.py) and pass through unchanged.
 */
public final class RateLimit
    implements FlatMapGroupsWithStateFunction<Long, Row, Tuple2<Long, Long>, Row> {

  private static final int EVENT_ID = 0, TS = 1, USER_ID = 2;

  private final long limit;
  private final long windowUs;

  public RateLimit(long limit, long windowUs) {
    this.limit = limit;
    this.windowUs = windowUs;
  }

  /** The admitted rows of {@code events}; NULL users share one window. */
  public Dataset<Row> apply(Dataset<Row> events, String outputDdl) {
    return events
        .groupByKey(new UserId(), Encoders.LONG())
        .flatMapGroupsWithState(
            this,
            OutputMode.Append(),
            Encoders.tuple(Encoders.LONG(), Encoders.LONG()),
            Encoders.row(StructType.fromDDL(outputDdl)),
            GroupStateTimeout.EventTimeTimeout());
  }

  @Override
  public Iterator<Row> call(Long user, Iterator<Row> rows, GroupState<Tuple2<Long, Long>> state) {
    if (state.hasTimedOut()) {
      state.remove();
      return Collections.emptyIterator();
    }
    // a group's rows come in no order, and the recurrence is order-sensitive
    List<Row> batch = new ArrayList<>();
    rows.forEachRemaining(batch::add);
    batch.sort(
        Comparator.comparingLong(RateLimit::tsMicros)
            .thenComparing(
                r -> r.isNullAt(EVENT_ID) ? null : r.getLong(EVENT_ID),
                Comparator.nullsLast(Comparator.naturalOrder())));
    boolean open = state.exists();
    long start = open ? state.get()._1() : 0L;
    long admitted = open ? state.get()._2() : 0L;
    List<Row> out = new ArrayList<>();
    for (Row r : batch) {
      long ts = tsMicros(r);
      if (!open || ts >= start + windowUs) {
        open = true;
        start = ts;
        admitted = 0L;
      }
      if (admitted < limit) {
        admitted++;
        out.add(r);
      }
    }
    long end = start + windowUs;
    if (end <= state.getCurrentWatermarkMs() * 1000L) {
      state.remove(); // ended: any later row of this user opens a new window
    } else {
      state.update(new Tuple2<>(start, admitted));
      state.setTimeoutTimestamp(Math.floorDiv(end, 1000L));
    }
    return out.iterator();
  }

  /** Event time in µs: a Timestamp, or an Instant under the java8 datetime API. */
  private static long tsMicros(Row r) {
    Object t = r.get(TS);
    if (t == null) {
      return Long.MIN_VALUE;
    }
    if (t instanceof Instant) {
      Instant i = (Instant) t;
      return i.getEpochSecond() * 1_000_000L + i.getNano() / 1000;
    }
    Timestamp s = (Timestamp) t;
    return Math.floorDiv(s.getTime(), 1000L) * 1_000_000L + s.getNanos() / 1000;
  }

  /** The grouping key: {@code user_id}, NULL included. */
  public static final class UserId implements MapFunction<Row, Long> {
    @Override
    public Long call(Row r) {
      return r.isNullAt(USER_ID) ? null : r.getLong(USER_ID);
    }
  }
}
