-- seam dialect transcript: duckdb

-- 1. tail source, end-to-end (timestamp key, capped, 4 parts):
--    cold start (initialOffset -> latestOffset) + one planned
--    micro-batch (partitions); <progress op> markers are the
--    parameterized progress plane, expanded in section 2.
<progress op: action=reset table=events tail_id=events/ts watermark=None incarnation=None>
SELECT CAST(min(epoch_us("ts")) - 1 AS BIGINT) FROM "events"
SELECT CAST(max(k) AS BIGINT) FROM (SELECT epoch_us("ts") AS k FROM "events" WHERE "ts" > make_timestamp(1723804799000000) ORDER BY k LIMIT 1000)
<progress op: action=put table=events tail_id=events/ts watermark=1723804800000000 incarnation=<uuid>>
SELECT quantile_disc(epoch_us("ts"), [0.250000, 0.500000, 0.750000, 1.000000]) FROM "events" WHERE "ts" > make_timestamp(1723804799000000) AND "ts" <= make_timestamp(1723804800000000)
SELECT "ts", "value" FROM "events" WHERE "ts" > make_timestamp(1723804799000000) AND "ts" <= make_timestamp(1723804799250000)
SELECT "ts", "value" FROM "events" WHERE "ts" > make_timestamp(1723804799250000) AND "ts" <= make_timestamp(1723804799500000)
SELECT "ts", "value" FROM "events" WHERE "ts" > make_timestamp(1723804799500000) AND "ts" <= make_timestamp(1723804799750000)
SELECT "ts", "value" FROM "events" WHERE "ts" > make_timestamp(1723804799750000) AND "ts" <= make_timestamp(1723804800000000)

-- 2. tail progress plane (server-side; ? = bound parameter):
CREATE TABLE IF NOT EXISTS events__tail_progress (tail_id VARCHAR PRIMARY KEY, watermark BIGINT, incarnation VARCHAR)
INSERT INTO events__tail_progress VALUES (?, ?, ?) ON CONFLICT (tail_id) DO UPDATE SET incarnation = CASE WHEN excluded.watermark >= watermark THEN excluded.incarnation ELSE incarnation END, watermark = greatest(excluded.watermark, watermark)
SELECT watermark, incarnation FROM events__tail_progress WHERE tail_id = ?
DELETE FROM events__tail_progress WHERE tail_id = ?

-- 3. ingest transaction wrapper (per-connection atomic append):
BEGIN TRANSACTION
INSERT INTO events  SELECT * FROM <registered arrow batch>
COMMIT
ROLLBACK

-- 4. exactly-once commit log:
CREATE TABLE IF NOT EXISTS events__commits (sink_id VARCHAR, batch_id BIGINT, PRIMARY KEY (sink_id, batch_id))
SELECT CAST(count(*) AS BIGINT) FROM events__commits WHERE sink_id = 'pipe' AND batch_id = 7
INSERT INTO events__commits VALUES ('pipe', 7)
SELECT batch_id FROM events__commits WHERE sink_id = 'pipe' ORDER BY batch_id
