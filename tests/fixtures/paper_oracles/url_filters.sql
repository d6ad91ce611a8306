  WITH hosts(idx, h) AS (VALUES
      (0, 'alpha.example.com'), (1, 'cdn.beta.org'),
      (2, 'blocked.net'), (3, 'gamma.site.io'), (4, 'ads.spam.org')),
  urls AS (
    SELECT d.doc_id,
           'https://' || h.h || '/doc/' ||
           CAST(d.doc_id % 300 AS VARCHAR) ||
           CASE WHEN d.doc_id % 7 = 0 THEN '/?utm_source=feed'
                ELSE '' END AS url
    FROM documents d JOIN hosts h
      ON h.idx = CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),1,15)) AS UBIGINT) % 5),
  dedup AS (
    SELECT doc_id, url FROM (
      SELECT doc_id, url,
             row_number() OVER (PARTITION BY 
regexp_replace(regexp_replace(regexp_replace(regexp_replace(
regexp_replace(regexp_replace(regexp_replace(regexp_replace(
regexp_replace(
  lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                       '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) ||
  regexp_replace(regexp_replace(url, '#.*$', ''),
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''),
  '^(https://[^/:?#]+):443$', '\1'),
  '^(https://[^/:?#]+):443([/?#])', '\1\2'),
  '^(http://[^/:?#]+):80$', '\1'),
  '^(http://[^/:?#]+):80([/?#])', '\1\2'),
  '&(utm_[a-z]+|gclid|fbclid)=[^&#]*', ''),
  '\?(utm_[a-z]+|gclid|fbclid)=[^&#]*&', '?'),
  '\?(utm_[a-z]+|gclid|fbclid)=[^&#]*$', ''),
  '/+\?', '?'),
  '/+$', '')
                                ORDER BY doc_id) AS rn
      FROM urls) WHERE rn = 1)
  SELECT doc_id, url FROM dedup
  WHERE NOT (lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) = 'spam.org' OR lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) LIKE '%.spam.org'
          OR lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) = 'blocked.net' OR lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) LIKE '%.blocked.net')
