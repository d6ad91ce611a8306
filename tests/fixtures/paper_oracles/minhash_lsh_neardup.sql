WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id,
               'zzz ' || substr(text, instr(text, ' ') + 1) AS text
        FROM documents),
toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM corpus),
wht AS (SELECT doc_id,
         list_transform(ws,
             w -> CAST(CAST(('0x' || substr(md5(w), 1, 15)) AS UBIGINT)
                       AS BIGINT) % 35184372088832) AS wh
       FROM toks),
hs AS (SELECT doc_id,
         CASE WHEN len(wh) >= 3
              THEN list_distinct([((wh[i] * 32749 + wh[i+1]) % 35184372088832 * 32749 + wh[i+2]) % 35184372088832
                                  for i in range(1, len(wh) - 1)])
              ELSE [list_reduce(wh,
                                (acc, x) -> (acc * 32749 + x) % 35184372088832)]
              END AS h
       FROM wht),
sig AS (SELECT doc_id,
       list_min(list_transform(h, x -> (376796945 * (x % 2147483647) + 1430272678) % 2147483647)) AS m0,
       list_min(list_transform(h, x -> (1508001830 * (x % 2147483647) + 1580525473) % 2147483647)) AS m1,
       list_min(list_transform(h, x -> (465410027 * (x % 2147483647) + 845941487) % 2147483647)) AS m2,
       list_min(list_transform(h, x -> (2067204103 * (x % 2147483647) + 137687890) % 2147483647)) AS m3,
       list_min(list_transform(h, x -> (1039434057 * (x % 2147483647) + 877137367) % 2147483647)) AS m4,
       list_min(list_transform(h, x -> (2036683746 * (x % 2147483647) + 757788048) % 2147483647)) AS m5,
       list_min(list_transform(h, x -> (642015243 * (x % 2147483647) + 1348523597) % 2147483647)) AS m6,
       list_min(list_transform(h, x -> (1328430068 * (x % 2147483647) + 468982585) % 2147483647)) AS m7
       FROM hs),
buckets AS (SELECT doc_id, 0 AS band_id, m0 * 2147483647 + m1 AS band_hash FROM sig
    UNION ALL SELECT doc_id, 1 AS band_id, m2 * 2147483647 + m3 AS band_hash FROM sig
    UNION ALL SELECT doc_id, 2 AS band_id, m4 * 2147483647 + m5 AS band_hash FROM sig
    UNION ALL SELECT doc_id, 3 AS band_id, m6 * 2147483647 + m7 AS band_hash FROM sig),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM buckets l JOIN buckets r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id),
verified AS (
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.h, b.h)) AS DOUBLE) /
           (len(a.h) + len(b.h)
            - len(list_intersect(a.h, b.h))) AS jaccard
    FROM cand c
    JOIN hs a ON c.id_a = a.doc_id
    JOIN hs b ON c.id_b = b.doc_id)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
