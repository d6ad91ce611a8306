WITH snip AS (
  SELECT array_to_string(
           (regexp_split_to_array(trim(text), '\s+'))[1:13], ' ')
         AS s
  FROM documents WHERE doc_id = 0),
cws AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(
           CASE WHEN doc_id % 25 = 0
                THEN text || ' ' || (SELECT s FROM snip)
                ELSE text END)), '\s+') AS ws
  FROM documents WHERE doc_id % 97 <> 0),
bws AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
         AS ws
  FROM documents WHERE doc_id % 97 = 0),
lens AS (SELECT DISTINCT len(ws) AS l FROM bws
         WHERE len(ws) > 0 AND len(ws) < 13
         UNION SELECT 13),
cg AS (SELECT DISTINCT doc_id, g FROM (
  SELECT c.doc_id, unnest(CASE WHEN len(c.ws) >= t.l
       THEN [array_to_string(c.ws[i:i+t.l-1], ' ')
             for i in range(1, len(c.ws) - t.l + 2)]
       ELSE [array_to_string(c.ws, ' ')] END) AS g
  FROM cws c, lens t)),
bg AS (SELECT DISTINCT doc_id AS bench_id, g FROM (
  SELECT doc_id, unnest(CASE WHEN len(ws) >= 13
       THEN [array_to_string(ws[i:i+12], ' ')
             for i in range(1, len(ws) - 13 + 2)]
       ELSE [array_to_string(ws, ' ')] END) AS g
  FROM bws))
SELECT doc_id, count(DISTINCT g) AS n_matched_grams,
       count(DISTINCT bench_id) AS n_bench_examples
FROM cg JOIN bg USING (g) GROUP BY doc_id
