WITH tok AS (
    SELECT doc_id, md5(t.w) AS h
    FROM documents, UNNEST(string_split_regex(trim(text), '\s+')) AS t(w)),
v AS (SELECT doc_id, SUM(CASE WHEN strpos('13579bdf', substr(h, 1, 1)) > 0 THEN 1 ELSE -1 END) AS b0,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 2, 1)) > 0 THEN 1 ELSE -1 END) AS b1,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 3, 1)) > 0 THEN 1 ELSE -1 END) AS b2,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 4, 1)) > 0 THEN 1 ELSE -1 END) AS b3,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 5, 1)) > 0 THEN 1 ELSE -1 END) AS b4,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 6, 1)) > 0 THEN 1 ELSE -1 END) AS b5,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 7, 1)) > 0 THEN 1 ELSE -1 END) AS b6,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 8, 1)) > 0 THEN 1 ELSE -1 END) AS b7,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 9, 1)) > 0 THEN 1 ELSE -1 END) AS b8,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 10, 1)) > 0 THEN 1 ELSE -1 END) AS b9,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 11, 1)) > 0 THEN 1 ELSE -1 END) AS b10,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 12, 1)) > 0 THEN 1 ELSE -1 END) AS b11,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 13, 1)) > 0 THEN 1 ELSE -1 END) AS b12,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 14, 1)) > 0 THEN 1 ELSE -1 END) AS b13,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 15, 1)) > 0 THEN 1 ELSE -1 END) AS b14,
           SUM(CASE WHEN strpos('13579bdf', substr(h, 16, 1)) > 0 THEN 1 ELSE -1 END) AS b15
      FROM tok GROUP BY doc_id)
SELECT doc_id, CAST((CASE WHEN b0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN b1 > 0 THEN 2 ELSE 0 END) + (CASE WHEN b2 > 0 THEN 4 ELSE 0 END) + (CASE WHEN b3 > 0 THEN 8 ELSE 0 END) + (CASE WHEN b4 > 0 THEN 16 ELSE 0 END) + (CASE WHEN b5 > 0 THEN 32 ELSE 0 END) + (CASE WHEN b6 > 0 THEN 64 ELSE 0 END) + (CASE WHEN b7 > 0 THEN 128 ELSE 0 END) + (CASE WHEN b8 > 0 THEN 256 ELSE 0 END) + (CASE WHEN b9 > 0 THEN 512 ELSE 0 END) + (CASE WHEN b10 > 0 THEN 1024 ELSE 0 END) + (CASE WHEN b11 > 0 THEN 2048 ELSE 0 END) + (CASE WHEN b12 > 0 THEN 4096 ELSE 0 END) + (CASE WHEN b13 > 0 THEN 8192 ELSE 0 END) + (CASE WHEN b14 > 0 THEN 16384 ELSE 0 END) + (CASE WHEN b15 > 0 THEN 32768 ELSE 0 END) AS BIGINT) AS simhash FROM v
