SELECT l.State, r.State AS "$right.State", r.Region
FROM (SELECT DISTINCT State FROM StormEvents) l
JOIN (SELECT State, Region FROM States) r ON l.State = r.State
ORDER BY l.State ASC NULLS FIRST
