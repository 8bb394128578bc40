-- seam dialect transcript: clickhouse

-- 1. tail source, end-to-end (timestamp key, capped, 4 parts):
--    cold start (initialOffset -> latestOffset) + one planned
--    micro-batch (partitions); <progress op> markers are the
--    parameterized progress plane, expanded in section 2.
<progress op: action=reset table=events tail_id=events/ts watermark=None incarnation=None>
SELECT CAST(min(toUnixTimestamp64Micro("ts")) - 1 AS BIGINT) FROM "events"
SELECT CAST(max(k) AS BIGINT) FROM (SELECT toUnixTimestamp64Micro("ts") AS k FROM "events" WHERE "ts" > fromUnixTimestamp64Micro(1723804799000000) ORDER BY k LIMIT 1000)
<progress op: action=put table=events tail_id=events/ts watermark=1723804800000000 incarnation=<uuid>>
SELECT quantilesExact(0.250000, 0.500000, 0.750000, 1.000000)(toUnixTimestamp64Micro("ts")) FROM "events" WHERE "ts" > fromUnixTimestamp64Micro(1723804799000000) AND "ts" <= fromUnixTimestamp64Micro(1723804800000000)
SELECT "ts", "value" FROM "events" WHERE "ts" > fromUnixTimestamp64Micro(1723804799000000) AND "ts" <= fromUnixTimestamp64Micro(1723804799250000)
SELECT "ts", "value" FROM "events" WHERE "ts" > fromUnixTimestamp64Micro(1723804799250000) AND "ts" <= fromUnixTimestamp64Micro(1723804799500000)
SELECT "ts", "value" FROM "events" WHERE "ts" > fromUnixTimestamp64Micro(1723804799500000) AND "ts" <= fromUnixTimestamp64Micro(1723804799750000)
SELECT "ts", "value" FROM "events" WHERE "ts" > fromUnixTimestamp64Micro(1723804799750000) AND "ts" <= fromUnixTimestamp64Micro(1723804800000000)

-- 2. tail progress plane (server-side; ? = bound parameter):
CREATE TABLE IF NOT EXISTS events__tail_progress (tail_id String, watermark Int64, incarnation String) ENGINE = MergeTree ORDER BY tail_id
INSERT INTO events__tail_progress (tail_id, watermark, incarnation) VALUES ({tail_id:String}, {watermark:Int64}, {incarnation:String})
SELECT max(watermark), argMax(incarnation, watermark) FROM events__tail_progress WHERE tail_id = {tail_id:String} HAVING count() > 0
DELETE FROM events__tail_progress WHERE tail_id = {tail_id:String}

-- 3. ingest transaction wrapper (per-connection atomic append):
BEGIN TRANSACTION
INSERT INTO events  SELECT * FROM <registered arrow batch>
COMMIT
ROLLBACK

-- 4. exactly-once commit log:
CREATE TABLE IF NOT EXISTS events__commits (sink_id String, batch_id Int64) ENGINE = MergeTree ORDER BY (sink_id, batch_id)
SELECT CAST(count(*) AS Int64) FROM events__commits WHERE sink_id = 'pipe' AND batch_id = 7
INSERT INTO events__commits (sink_id, batch_id) VALUES ('pipe', 7)
SELECT batch_id FROM events__commits WHERE sink_id = 'pipe' ORDER BY batch_id
