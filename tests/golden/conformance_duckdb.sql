-- conformance replay transcript: duckdb
-- (label / params / statement; see conformance_check)

-- progress_create  [-]
CREATE TABLE IF NOT EXISTS conf_tail_progress (tail_id VARCHAR PRIMARY KEY, watermark BIGINT, incarnation VARCHAR)

-- progress_put_first  [tail_id='t1', watermark=5, incarnation='incA']
INSERT INTO conf_tail_progress VALUES (?, ?, ?) ON CONFLICT (tail_id) DO UPDATE SET incarnation = CASE WHEN excluded.watermark >= watermark THEN excluded.incarnation ELSE incarnation END, watermark = greatest(excluded.watermark, watermark)

-- progress_put_lower_late  [tail_id='t1', watermark=3, incarnation='incB']
INSERT INTO conf_tail_progress VALUES (?, ?, ?) ON CONFLICT (tail_id) DO UPDATE SET incarnation = CASE WHEN excluded.watermark >= watermark THEN excluded.incarnation ELSE incarnation END, watermark = greatest(excluded.watermark, watermark)

-- progress_get_greatest_wins  [tail_id='t1']  (checked)
SELECT watermark, incarnation FROM conf_tail_progress WHERE tail_id = ?

-- progress_put_raise  [tail_id='t1', watermark=9, incarnation='incC']
INSERT INTO conf_tail_progress VALUES (?, ?, ?) ON CONFLICT (tail_id) DO UPDATE SET incarnation = CASE WHEN excluded.watermark >= watermark THEN excluded.incarnation ELSE incarnation END, watermark = greatest(excluded.watermark, watermark)

-- progress_get_raised  [tail_id='t1']  (checked)
SELECT watermark, incarnation FROM conf_tail_progress WHERE tail_id = ?

-- progress_get_missing  [tail_id='nosuch']  (checked)
SELECT watermark, incarnation FROM conf_tail_progress WHERE tail_id = ?

-- progress_reset  [tail_id='t1']
DELETE FROM conf_tail_progress WHERE tail_id = ?

-- progress_get_after_reset  [tail_id='t1']  (checked)
SELECT watermark, incarnation FROM conf_tail_progress WHERE tail_id = ?

-- progress_put_q1  [tail_id='q1', watermark=1, incarnation='x']
INSERT INTO conf_tail_progress VALUES (?, ?, ?) ON CONFLICT (tail_id) DO UPDATE SET incarnation = CASE WHEN excluded.watermark >= watermark THEN excluded.incarnation ELSE incarnation END, watermark = greatest(excluded.watermark, watermark)

-- progress_put_q2  [tail_id='q2', watermark=2, incarnation='x']
INSERT INTO conf_tail_progress VALUES (?, ?, ?) ON CONFLICT (tail_id) DO UPDATE SET incarnation = CASE WHEN excluded.watermark >= watermark THEN excluded.incarnation ELSE incarnation END, watermark = greatest(excluded.watermark, watermark)

-- progress_put_q3  [tail_id='q3', watermark=3, incarnation='x']
INSERT INTO conf_tail_progress VALUES (?, ?, ?) ON CONFLICT (tail_id) DO UPDATE SET incarnation = CASE WHEN excluded.watermark >= watermark THEN excluded.incarnation ELSE incarnation END, watermark = greatest(excluded.watermark, watermark)

-- progress_put_q4  [tail_id='q4', watermark=4, incarnation='x']
INSERT INTO conf_tail_progress VALUES (?, ?, ?) ON CONFLICT (tail_id) DO UPDATE SET incarnation = CASE WHEN excluded.watermark >= watermark THEN excluded.incarnation ELSE incarnation END, watermark = greatest(excluded.watermark, watermark)

-- quantile_bounds  [-]  (checked)
SELECT quantile_disc(watermark, [0.500000, 1.000000]) FROM conf_tail_progress

-- epoch_roundtrip  [-]  (checked)
SELECT epoch_us(make_timestamp(1723804800000000)) AS us

-- quote_ident_keyword  [-]  (checked)
SELECT 1 AS "commit"

-- commits_create  [-]
CREATE TABLE IF NOT EXISTS conf_commits (sink_id VARCHAR, batch_id BIGINT, PRIMARY KEY (sink_id, batch_id))

-- commits_seen_before  [-]  (checked)
SELECT CAST(count(*) AS BIGINT) FROM conf_commits WHERE sink_id = 'pipe' AND batch_id = 7

-- commits_marker  [-]
INSERT INTO conf_commits VALUES ('pipe', 7)

-- commits_seen_after  [-]  (checked)
SELECT CAST(count(*) AS BIGINT) FROM conf_commits WHERE sink_id = 'pipe' AND batch_id = 7

-- txn_begin  [-]
BEGIN TRANSACTION

-- txn_marker  [-]
INSERT INTO conf_commits VALUES ('pipe', 8)

-- txn_rollback  [-]
ROLLBACK

-- commits_seen_rolled_back  [-]  (checked)
SELECT CAST(count(*) AS BIGINT) FROM conf_commits WHERE sink_id = 'pipe' AND batch_id = 8

-- txn_begin2  [-]
BEGIN TRANSACTION

-- txn_marker2  [-]
INSERT INTO conf_commits VALUES ('pipe', 9)

-- txn_commit  [-]
COMMIT

-- commits_seen_committed  [-]  (checked)
SELECT CAST(count(*) AS BIGINT) FROM conf_commits WHERE sink_id = 'pipe' AND batch_id = 9

-- commits_ids  [-]  (checked)
SELECT batch_id FROM conf_commits WHERE sink_id = 'pipe' ORDER BY batch_id
